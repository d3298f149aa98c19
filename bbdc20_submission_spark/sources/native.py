"""Reference-native CSV sources (SURVEY §2.1 S1-S5).

The reference loads one CSV per (subject, trial) in a Python loop
(``load_data.py:85-94, 161-170``); here one scan of the globbed file
list reads every file in one job and ``input_file_name()`` restores
the (subject, trial) partition identity (S4). At 100 TB this is the
difference between a driver bottleneck and a fully parallel scan.

Sensor CSVs are read with a declared all-DOUBLE schema taken from the
first file's header, never with schema inference: inference fires two
Spark jobs while the plan is being built and scans every file once more
before the real scan, which at the paper's scale (minutes of 600 Hz
samples per trial) doubles the CSV I/O. Spark checks every other
file's header against that schema (``enforceSchema=false``) and fails
on a non-numeric cell (``FAILFAST``), so the declared schema cannot
silently misread a file.
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

LABEL_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("start", T.DoubleType(), False),
        T.StructField("end", T.DoubleType(), False),
        T.StructField("action", T.StringType(), False),
    ]
)


def load_labels(spark: SparkSession, path: str) -> DataFrame:
    """S1 + P1/P2: headerless label CSV -> parsed interval table.

    Key layout per ``load_data.py:17-19``: subject = key[0:3],
    trial = key[3:6], arm = after '.'."""
    raw = spark.read.csv(path, header=False, schema=LABEL_SCHEMA)
    return raw.selectExpr(
        "substring(`key`, 1, 3) AS subject",
        "substring(`key`, 4, 3) AS trial",
        "split(`key`, '[.]')[1] AS arm",
        "`start`",
        "`end`",
        "`action`",
    )


def _csv_files(spark: SparkSession, pattern: str) -> tuple[list[str], list[str]]:
    """The files matching ``pattern`` and the column names from the
    header line of the first, read on the driver through the Hadoop
    ``FileSystem`` (any Hadoop path; no Spark job)."""
    jvm = spark.sparkContext._jvm
    glob = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = glob.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    matches = fs.globStatus(glob)
    if matches is None or len(matches) == 0:
        raise FileNotFoundError(f"no file matches {pattern}")
    files = [m.getPath().toString() for m in matches]
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(matches[0].getPath()), "UTF-8")
    )
    try:
        line = reader.readLine()
    finally:
        reader.close()
    if not line:
        raise ValueError(f"{files[0]}: no header line")
    return files, next(csv.reader([line.lstrip("\ufeff")]))


def _with_file_keys(df: DataFrame, columns: list[str]) -> DataFrame:
    """S4: parse subject/trial from the source file name
    (``load_data.py:86-87``: fn[:3], fn[3:6]); ``columns`` are
    ``df``'s columns, a file's own subject/trial columns are replaced."""
    base = "element_at(split(input_file_name(), '/'), -1)"
    return df.selectExpr(
        *[f"`{c}`" for c in columns if c not in ("subject", "trial")],
        f"substring({base}, 1, 3) AS subject",
        f"substring({base}, 4, 3) AS trial",
    )


def load_sensor_csv_dir(spark: SparkSession, path: str) -> DataFrame:
    """S2/S3: one scan over the ``*.csv`` files of a directory of
    per-trial sensor CSVs (header row, numeric columns), keyed by
    filename. Every column is DOUBLE, named by the first file's header
    (module docstring: why not inferred); an empty cell is a NULL, i.e.
    a missing sample."""
    files, columns = _csv_files(spark, os.path.join(path, "*.csv"))
    schema = T.StructType([T.StructField(c, T.DoubleType(), True) for c in columns])
    # the globbed files, not the glob: for a glob path Spark logs a WARN
    # and a stack trace looking for a streaming-sink metadata directory
    df = spark.read.csv(files, schema=schema, header=True, enforceSchema=False, mode="FAILFAST")
    return _with_file_keys(df, columns)


def write_submission_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """S5: headerless CSV sink ``(key, start, end, action)``
    (``generate_submission.py:567-569``). ``single_file`` coalesces to
    one part for the submission format; leave False at scale."""
    out = df.select("key", "start", "end", "action")
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", False).csv(path)


DOCUMENTS_SCHEMA = T.StructType(
    [
        # everything nullable: JSON sources force nullability (a
        # PERMISSIVE-mode corrupt line yields a NULL row), so a
        # non-null field here would make the declared schema disagree
        # with every frame the reader actually returns
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def load_documents_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Document corpus from JSONL (one JSON object per line — the
    lingua franca of LLM corpus interchange: The Pile, C4 dumps,
    Dolma, RedPajama all ship this way). The schema is EXPLICIT by
    default (``DOCUMENTS_SCHEMA``, the harness documents layout):
    schema inference over JSONL is a full extra pass at corpus scale
    AND silently widens/narrows types per sample — never infer in
    production. Corrupt lines land in no row rather than poisoning
    the scan (Spark's default PERMISSIVE mode yields NULL columns; the
    curation quality gate drops them). JSONL is splittable
    line-by-line, so a 100 TB dump scans fully parallel, unlike a
    single JSON array document."""
    return spark.read.schema(schema or DOCUMENTS_SCHEMA).json(path)


def write_documents_jsonl(
    df: DataFrame, path: str, n_files: int | None = None
) -> None:
    """Document corpus JSONL sink (round-trips through
    :func:`load_documents_jsonl`). ``n_files`` repartitions for a
    target shard count; default keeps the upstream partitioning (the
    scale-correct choice — a coalesce(1) style single file serializes
    the write)."""
    out = df if n_files is None else df.repartition(n_files)
    out.write.mode("overwrite").json(path)
