"""Source/sink certification: the native CSV contracts plus the other
format connectors the engine ships (json/orc/parquet roundtrips).
JDBC/Kafka/Delta need jars not present in this environment — their
absence is intentional (import-gated at deployment)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bbdc20_submission_spark.sources.native import (
    load_labels,
    load_sensor_csv_dir,
    write_submission_csv,
)


def test_label_csv_roundtrip(spark, tmp_path):
    p = tmp_path / "labels.csv"
    p.write_text(
        "s01t01.la,0.0,1.2,la-lift\n"
        "s01t01.la,1.2,3.4,la-nothing\n"
        "s02t03.ra,0.0,2.0,ra-stir\n"
    )
    out = load_labels(spark, str(p)).collect()
    rows = {(r["subject"], r["trial"], r["arm"], r["start"], r["end"], r["action"]) for r in out}
    assert ("s01", "t01", "la", 0.0, 1.2, "la-lift") in rows
    assert ("s02", "t03", "ra", 0.0, 2.0, "ra-stir") in rows


def test_sensor_dir_scan_keys_from_filenames(spark, tmp_path):
    d = tmp_path / "emg"
    d.mkdir()
    for key in ["s01t01", "s02t05"]:
        (d / f"{key}.csv").write_text("ts,c0,c1\n0.0,1.0,2.0\n0.1,3.0,4.0\n")
    df = load_sensor_csv_dir(spark, str(d))
    got = {(r["subject"], r["trial"]) for r in df.select("subject", "trial").distinct().collect()}
    assert got == {("s01", "t01"), ("s02", "t05")}
    assert df.count() == 4


def _sensor_dir(tmp_path, files: dict[str, str]) -> str:
    d = tmp_path / "sensors"
    d.mkdir()
    for name, text in files.items():
        (d / name).write_text(text)
    return str(d)


def test_sensor_dir_build_fires_no_job(spark, tmp_path):
    """The schema comes from the first file's header on the driver:
    building the frame runs no Spark job (inference ran two)."""
    d = _sensor_dir(tmp_path, {"s01t01.csv": "ts,c0\n0.0,1.0\n", "s02t01.csv": "ts,c0\n0.0,2.0\n"})
    sc = spark.sparkContext
    group = "test-sensor-dir-build"
    sc.setJobGroup(group, "loader build")
    try:
        df = load_sensor_csv_dir(spark, d)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert df.count() == 2  # the group does capture this thread's jobs
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_sensor_dir_reads_every_column_as_double(spark, tmp_path):
    d = _sensor_dir(tmp_path, {"s01t01.csv": "ts,c0,c1\n0,1,\n1,2,3\n"})
    df = load_sensor_csv_dir(spark, d)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("ts", "double"), ("c0", "double"), ("c1", "double"),
        ("subject", "string"), ("trial", "string"),
    ]
    rows = sorted(tuple(r) for r in df.select("ts", "c0", "c1").collect())
    assert rows == [(0.0, 1.0, None), (1.0, 2.0, 3.0)]


def test_sensor_dir_rejects_a_different_header(spark, tmp_path):
    d = _sensor_dir(tmp_path, {"s01t01.csv": "ts,c0\n0.0,1.0\n", "s02t01.csv": "ts,c9\n0.0,2.0\n"})
    with pytest.raises(Exception, match="(?i)header"):
        load_sensor_csv_dir(spark, d).collect()


def test_sensor_dir_rejects_a_non_numeric_cell(spark, tmp_path):
    d = _sensor_dir(tmp_path, {"s01t01.csv": "ts,c0\n0.0,1.0\n0.1,abc\n"})
    with pytest.raises(Exception, match="(?i)malformed"):
        load_sensor_csv_dir(spark, d).collect()


def test_sensor_dir_empty_raises(spark, tmp_path):
    d = _sensor_dir(tmp_path, {})
    with pytest.raises(FileNotFoundError):
        load_sensor_csv_dir(spark, d)


def test_submission_sink_headerless(spark, tmp_path):
    df = spark.createDataFrame(
        [("s06t01.la", 0.0, 1.2, "la-lift")],
        "key string, start double, end double, action string",
    )
    out = str(tmp_path / "sub")
    write_submission_csv(df, out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1
    content = open(os.path.join(out, parts[0])).read().strip()
    assert content == "s06t01.la,0.0,1.2,la-lift"


def test_json_orc_parquet_roundtrip(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("k"), F.col("id")).alias("k"),
    )
    want = sorted(map(tuple, df.collect()))
    for fmt in ["json", "orc", "parquet"]:
        path = str(tmp_path / fmt)
        df.write.format(fmt).mode("overwrite").save(path)
        back = spark.read.format(fmt).load(path)
        if fmt == "json":  # schema inference reorders/types; align
            back = back.select(
                F.col("id").cast("long"), F.col("v").cast("double"), "k"
            )
        assert sorted(map(tuple, back.collect())) == want


def test_documents_jsonl_roundtrip(spark, sf_dir, tmp_path):
    """JSONL document corpus IO: harness documents survive a
    write->read round trip with the EXPLICIT schema (no inference
    pass), and a corrupt line degrades to NULL columns instead of
    failing the scan (PERMISSIVE default)."""
    from bbdc20_submission_spark.sources.harness import load_table
    from bbdc20_submission_spark.sources.native import (
        DOCUMENTS_SCHEMA,
        load_documents_jsonl,
        write_documents_jsonl,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        *[f.name for f in DOCUMENTS_SCHEMA.fields]
    )
    path = str(tmp_path / "docs_jsonl")
    write_documents_jsonl(docs, path, n_files=3)
    back = load_documents_jsonl(spark, path)
    assert back.schema == DOCUMENTS_SCHEMA
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, docs.collect())
    )
    # corrupt line: scan survives, row degrades to NULLs
    import os

    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-0.json"), "w") as fh:
        fh.write('{"doc_id": 1, "text": "ok", "source": "s", '
                 '"lang": "en", "n_chars": 2}\n')
        fh.write("{not json at all\n")
    rows = load_documents_jsonl(spark, bad).collect()
    assert len(rows) == 2
    assert {r["doc_id"] for r in rows} == {1, None}


def test_range_sorted_layout_clusters_and_prunes(spark, sf_dir, tmp_path):
    """write_range_sorted must produce files with DISJOINT sort-key
    ranges (tight min/max stats — the property row-group pruning needs)
    and identical query results; a sort-prefix filter must reach the
    scan as a pushed filter."""
    import contextlib
    import io

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bbdc20_submission_spark.sources.harness import load_table
    from bbdc20_submission_spark.sources.layout import (
        read_pruned,
        write_range_sorted,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    out = str(tmp_path / "li_sorted")
    write_range_sorted(li, out, ["l_shipdate"], n_files=8)

    # file-level min/max ranges must be (near-)disjoint: sorted layout
    import glob

    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "l_shipdate"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    overlaps = sum(
        1 for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]) if a_hi > b_lo
    )
    assert len(ranges) > 1 and overlaps == 0, ranges

    # correctness + pushdown
    cutoff = "1997-01-01"
    got = read_pruned(spark, out).filter(F.col("l_shipdate") < cutoff)
    want = li.filter(F.col("l_shipdate") < cutoff).count()
    assert got.count() == want > 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in buf.getvalue()


def test_events_ts_layout_robustness(spark, tmp_path):
    """load_table must normalize every events.ts physical layout the
    harness has ever generated to TimestampType with identical instants:
    nanos-int64 (legacy TIMESTAMP(NANOS)), µs UTC-adjusted (TIMESTAMP),
    and µs non-adjusted (TIMESTAMP_NTZ). Regression guard for the r4
    testdata regeneration that silently flipped the layout to NTZ."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bbdc20_submission_spark.sources.harness import load_table

    # instants in µs since epoch (UTC)
    micros = [1_577_836_800_000_000, 1_577_836_801_500_000, 1_600_000_000_123_456]
    expected_ms = [m // 1000 for m in micros]
    layouts = {
        "nanos": pa.timestamp("ns"),
        "us_utc": pa.timestamp("us", tz="UTC"),
        "us_ntz": pa.timestamp("us"),
    }
    for name, ts_type in layouts.items():
        vals = [m * 1000 for m in micros] if ts_type.unit == "ns" else micros
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(vals, pa.timestamp(ts_type.unit)).cast(ts_type),
                "value": pa.array([0.1, 0.2, 0.3], pa.float64()),
            }
        )
        d = tmp_path / name
        d.mkdir()
        pq.write_table(tbl, str(d / "events.parquet"))

        # simulate a harness-owned session with a non-UTC zone: load_table
        # must pin UTC itself before any NTZ cast
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        try:
            df = load_table(spark, "events", str(d))
            # the session-global nanos conf is flipped only for the
            # layout that needs it (footer peek), not unconditionally
            nanos_conf = spark.conf.get(
                "spark.sql.legacy.parquet.nanosAsLong", "false"
            )
            assert nanos_conf == ("true" if name == "nanos" else "false")
            assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
            got = [
                r["ms"]
                for r in df.select(F.unix_millis("ts").alias("ms"))
                .orderBy("event_id")
                .collect()
            ]
            assert got == expected_ms, (name, got)
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_harness_schema_contract(spark, sf_dir):
    """Loud early-warning when the harness regenerates testdata with a
    different schema (the silent killer of round 4). Checks only the
    columns/types queries depend on; date-ish columns may be TIMESTAMP,
    TIMESTAMP_NTZ, or DATE (every query routes them through
    date_trunc/casts/string comparison, which accept all three) — but
    events.ts must be exactly TIMESTAMP after load_table normalization,
    because unix_millis/watermarks reject NTZ."""
    from bbdc20_submission_spark.sources.harness import HARNESS_TABLES, load_table

    datish = {"timestamp", "timestamp_ntz", "date"}
    required: dict[str, dict[str, set]] = {
        "region": {"r_regionkey": {"int", "bigint"}, "r_name": {"string"}},
        "nation": {"n_nationkey": {"int", "bigint"}, "n_name": {"string"},
                   "n_regionkey": {"int", "bigint"}},
        "customer": {"c_custkey": {"bigint"}, "c_nationkey": {"int", "bigint"},
                     "c_acctbal": {"double"}, "c_mktsegment": {"string"}},
        "supplier": {"s_suppkey": {"bigint"}, "s_nationkey": {"int", "bigint"},
                     "s_acctbal": {"double"}},
        "part": {"p_partkey": {"bigint"}, "p_size": {"int", "bigint"},
                 "p_retailprice": {"double"}},
        "orders": {"o_orderkey": {"bigint"}, "o_custkey": {"bigint"},
                   "o_totalprice": {"double"}, "o_orderdate": datish},
        "lineitem": {"l_orderkey": {"bigint"}, "l_quantity": {"double"},
                     "l_extendedprice": {"double"}, "l_discount": {"double"},
                     "l_shipdate": datish},
        "events": {"event_id": {"bigint"}, "ts": {"timestamp"},
                   "user_id": {"bigint"}, "event_type": {"string"},
                   "value": {"double"}, "props": {"string"}},
        "documents": {"doc_id": {"bigint"}, "text": {"string"},
                      "lang": {"string"}, "source": {"string"}},
        "embeddings": {"vec_id": {"bigint"},
                       "embedding": {"array<float>", "array<double>"},
                       "label": {"int", "bigint"}},
    }
    assert set(required) == set(HARNESS_TABLES)
    problems = []
    for t, cols in required.items():
        dtypes = dict(load_table(spark, t, sf_dir).dtypes)
        for c, allowed in cols.items():
            got = dtypes.get(c)
            if got not in allowed:
                problems.append(f"{t}.{c}: got {got!r}, want one of {sorted(allowed)}")
    assert not problems, problems


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """write_zorder: every output file must cover a small RECTANGLE of
    (x, y) value space, so a narrow predicate on EITHER column
    intersects only a minority of file-level min/max ranges — the
    property a 1-D range sort cannot provide for its non-prefix
    column (checked as the contrast baseline)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bbdc20_submission_spark.sources.layout import (
        write_range_sorted,
        write_zorder,
    )

    n = 40_000
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 9973) % 10_000).cast("double").alias("x"),
        ((F.col("id") * 7919) % 10_000).cast("double").alias("y"),
    )

    def file_ranges(path: str, col_name: str):
        out = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col_name
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            out.append((min(mins), max(maxs)))
        return out

    def touched(ranges, lo, hi):
        return sum(1 for a, b in ranges if b >= lo and a <= hi)

    zpath = str(tmp_path / "z")
    # repartitionByRange's RangePartitioner draws its own sample over
    # the z values; at the default 100 rows/partition its boundary
    # wobble shifted a file edge across the probe band run-to-run
    # (up to 9 touched in-suite vs 4-8 solo), which r10 absorbed by
    # loosening this bound to <= 10. Instead make the boundaries
    # EXACT for this test: sample more rows per partition than the
    # input holds (40k rows / 32 partitions = 1250), so the
    # partitioner sees every z value and the layout is deterministic
    # — and the original <= 8 bound holds.
    sample_key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    old_sample = spark.conf.get(sample_key)
    spark.conf.set(sample_key, "4000")
    try:
        write_zorder(df, zpath, ("x", "y"), n_files=16, bits=8)
    finally:
        spark.conf.set(sample_key, old_sample)
    # a 5%-wide band on either axis touches ~sqrt(16)=4 of 16 file
    # rectangles; slack for quantile error + rectangle edges
    for c in ("x", "y"):
        r = file_ranges(zpath, c)
        assert len(r) == 16
        assert touched(r, 4000.0, 4500.0) <= 8, (c, sorted(r))

    # contrast: 1-D range sort on x leaves y unprunable (every file
    # spans ~the full y range)
    lpath = str(tmp_path / "lin")
    write_range_sorted(df, lpath, ["x"], n_files=16)
    ry = file_ranges(lpath, "y")
    assert touched(ry, 4000.0, 4500.0) == 16, sorted(ry)

    # layout is a pure reorder: row multiset unchanged
    assert spark.read.parquet(zpath).count() == n
    got = (
        spark.read.parquet(zpath)
        .agg(F.sum("id"), F.sum("x"), F.sum("y"))
        .collect()[0]
    )
    want = df.agg(F.sum("id"), F.sum("x"), F.sum("y")).collect()[0]
    assert tuple(got) == tuple(want)


def test_zorder_three_columns(spark, tmp_path):
    """3-column Morton interleave: a narrow band on each of the three
    axes must touch a strict minority of file rectangles."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bbdc20_submission_spark.sources.layout import write_zorder

    n = 60_000
    df = spark.range(n).select(
        ((F.col("id") * 9973) % 10_000).cast("double").alias("x"),
        ((F.col("id") * 7919) % 10_000).cast("double").alias("y"),
        ((F.col("id") * 6101) % 10_000).cast("double").alias("w"),
    )
    path = str(tmp_path / "z3")
    write_zorder(df, path, ("x", "y", "w"), n_files=27, bits=6)

    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) == 27
    for cname in ("x", "y", "w"):
        touched = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == cname
                )
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            if max(maxs) >= 4000.0 and min(mins) <= 4400.0:
                touched += 1
        # ~27^(2/3) ≈ 9 rectangles intersect a thin slab; allow slack
        assert touched <= 18, (cname, touched)

    import pytest

    with pytest.raises(ValueError):
        write_zorder(df, path, ("x",))
    with pytest.raises(ValueError):
        write_zorder(df, path, ("x", "y", "w"), bits=32)


def test_zorder_interleave_matches_python_morton(spark):
    """_interleave_bits at the k=4 x bits=8 corner (bit position 31 —
    the int sign bit) must equal a pure-python Morton computation and
    stay non-negative."""
    from pyspark.sql import functions as F

    from bbdc20_submission_spark.sources.layout import _interleave_bits

    def morton(vals, k, bits):
        z = 0
        for i in range(bits):
            for j, v in enumerate(vals):
                z |= ((v >> i) & 1) << (i * k + (k - 1 - j))
        return z

    rows = [(a, b, c, d) for a in (0, 255, 170) for b in (0, 255, 85)
            for c in (1, 254) for d in (0, 255)]
    df = spark.createDataFrame(rows, "a int, b int, c int, d int")
    z = _interleave_bits([F.col(x) for x in ("a", "b", "c", "d")], 8)
    got = [r["z"] for r in df.select(z.alias("z")).collect()]
    want = [morton(r, 4, 8) for r in rows]
    assert got == want
    assert all(v >= 0 for v in got)


def test_python_datasource_synth_events(spark):
    """Spark 4 Python Data Source API: the synth_events source plans
    `partitions` slices, generates deterministically from (seed, row
    index), and consumes pushed-down event_id range / event_type
    equality filters inside the Python reader."""
    from bbdc20_submission_spark.sources.pysource import (
        SyntheticEventsDataSource,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticEventsDataSource)
    df = (
        spark.read.format("synth_events")
        .option("rows", 5000)
        .option("partitions", 8)
        .option("seed", 7)
        .load()
    )
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 8
    # deterministic: same options -> identical content
    again = (
        spark.read.format("synth_events")
        .option("rows", 5000)
        .option("partitions", 3)  # layout must not change content
        .option("seed", 7)
        .load()
    )
    a = df.orderBy("event_id").collect()
    b = again.orderBy("event_id").collect()
    assert a == b

    # pushdown: range + type filters produce exactly the brute-force
    # subset (the reader consumed them; Spark re-applies residuals
    # only — either way the result must be the filtered set)
    got = (
        df.filter(
            (F.col("event_id") >= 100)
            & (F.col("event_id") < 300)
            & (F.col("event_type") == "click")
        )
        .orderBy("event_id")
        .collect()
    )
    want = [
        r
        for r in a
        if 100 <= r["event_id"] < 300 and r["event_type"] == "click"
    ]
    assert got == want and len(got) > 0

    # IN pushdown, and CONJUNCTIVE semantics for two consumed
    # predicates (they must intersect, not overwrite)
    got_in = (
        df.filter(F.col("event_type").isin("click", "view"))
        .filter(F.col("event_type").isin("view", "error"))
        .orderBy("event_id")
        .collect()
    )
    want_in = [r for r in a if r["event_type"] == "view"]
    assert got_in == want_in and len(got_in) > 0


def test_table_column_max_footer_stats(spark, tmp_path):
    """Planted-ground-truth offsets derive from max(vec_id)+1 so they
    can never collide at any scale; the max must come from footer
    row-group stats (exact for int64), including on id-SHIFTED replica
    corpora, and degrade to None (caller falls back to a max() job)
    on missing columns / unreadable paths."""
    from bbdc20_submission_spark.sources.harness import (
        table_column_max,
        table_row_count,
    )

    sf = str(tmp_path)
    # sparse id space like a scale-probe replica (shifted copies)
    rows = [(i,) for i in range(10)] + [(10_000_000 + i,) for i in range(10)]
    spark.createDataFrame(rows, "vec_id long").coalesce(1).write.parquet(
        f"{sf}/embeddings.parquet"
    )
    assert table_row_count("embeddings", sf) == 20
    assert table_column_max("embeddings", "vec_id", sf) == 10_000_009
    assert table_column_max("embeddings", "nope", sf) is None
    assert table_column_max("embeddings", "vec_id", "/nonexistent") is None


def test_reservoir_sample_unbiased_on_partition_sorted_input(spark):
    """Regression for the z-order boundary fit: the sample must cover
    each partition's WHOLE value range even when rows arrive sorted
    within partitions (the typical time-axis layout) — a
    per-partition head would see only the low end. Also pins
    determinism: same input layout + seed -> same sample."""
    import numpy as np

    from bbdc20_submission_spark.sources.layout import _reservoir_sample_rows

    df = (
        spark.range(100_000)
        .repartition(8)
        .select(F.col("id").cast("double").alias("x"))
        .sortWithinPartitions("x")
    )
    rows = _reservoir_sample_rows(df, 4096)
    xs = [r["x"] for r in rows]
    assert 2048 <= len(xs) <= 4096 + 8
    qs = np.quantile(xs, [0.1, 0.5, 0.9])
    assert qs[0] < 25_000 and 35_000 < qs[1] < 65_000 and qs[2] > 75_000, qs
    assert [r["x"] for r in _reservoir_sample_rows(df, 4096)] == xs


def test_zorder_partition_sorted_input_still_prunes(spark, tmp_path):
    """write_zorder on input sorted WITHIN partitions by a z-column:
    the boundary fit must still produce balanced buckets so a narrow
    band at the HIGH end of that column prunes most files (the biased
    head-sample fit collapsed every boundary to the low end)."""
    import glob

    import pyarrow.parquet as pq

    from bbdc20_submission_spark.sources.layout import write_zorder

    df = (
        spark.range(40_000)
        .repartition(8)
        .select(
            ((F.col("id") * 9973) % 10_000).cast("double").alias("x"),
            ((F.col("id") * 7919) % 10_000).cast("double").alias("y"),
        )
        .sortWithinPartitions("x")
    )
    path = str(tmp_path / "zsorted")
    write_zorder(df, path, ("x", "y"), n_files=16, bits=8)

    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "x"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 16
    touched = sum(1 for a, b in ranges if b >= 9000.0 and a <= 9500.0)
    assert touched <= 8, sorted(ranges)


def test_load_table_resplits_heavy_single_chunk_input(spark, tmp_path):
    """r11: a table whose parquet layout offers one heavy chunk (one
    row group, >6 MB of decoded STRING bytes per chunk — the
    _RESPLIT_STR_BYTES_PER_CHUNK trigger) must come back repartitioned
    to defaultParallelism so narrow stages don't serialize on one core;
    a light single-chunk table (every certified SF) must pass through
    with its plan untouched. Whether the heavy table re-splits is what
    ``_should_resplit`` says for this host's core count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bbdc20_submission_spark.sources.harness import (
        _effective_splits,
        _should_resplit,
        load_table,
    )

    heavy_dir = tmp_path / "heavy"
    heavy_dir.mkdir()
    n = 30_000
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            # unique per row so parquet dictionary encoding cannot
            # collapse the column (total_byte_size is post-encoding)
            "text": pa.array([f"tok{i}x " * 150 for i in range(n)]),
        }
    )
    pq.write_table(
        tbl, str(heavy_dir / "documents.parquet"), row_group_size=n
    )
    heavy = load_table(spark, "documents", str(heavy_dir))
    cores = spark.sparkContext.defaultParallelism
    str_bytes, chunks = _effective_splits(str(heavy_dir / "documents.parquet"))
    assert chunks == 1
    want = cores if _should_resplit(str_bytes, chunks, cores) else 1
    assert heavy.rdd.getNumPartitions() == want
    # filters still reach the scan through the inserted repartition
    plan = heavy.filter("doc_id < 10").select("doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" in plan, plan

    light_dir = tmp_path / "light"
    light_dir.mkdir()
    # repeated constant text: parquet dictionary encoding collapses the
    # column, so the footer's post-encoding string bytes stay tiny —
    # the dictionary-collapsed layout the trigger must NOT fire on
    small = pa.table(
        {
            "doc_id": pa.array(range(100), pa.int64()),
            "text": pa.array(["short text"] * 100),
        }
    )
    pq.write_table(small, str(light_dir / "documents.parquet"))
    light = load_table(spark, "documents", str(light_dir))
    assert "Exchange" not in light._jdf.queryExecution().executedPlan().toString()


def test_should_resplit_rule_across_core_counts():
    """The re-split rule as a pure function of (string bytes, chunks,
    cores): a heavy table re-splits once it has at most a quarter as
    many chunks as cores; a light one never does."""
    from bbdc20_submission_spark.sources.harness import (
        _RESPLIT_STR_BYTES_PER_CHUNK as per_chunk,
        _should_resplit,
    )

    heavy, light = 8 * per_chunk, per_chunk - 1
    assert not _should_resplit(heavy, 1, 1)
    assert _should_resplit(heavy, 1, 4)
    assert not _should_resplit(heavy, 2, 4)
    assert _should_resplit(heavy, 2, 8)
    assert not _should_resplit(heavy, 3, 8)
    assert _should_resplit(heavy, 8, 32)
    assert not _should_resplit(heavy, 9, 32)
    for cores in (1, 4, 8, 32):
        assert not _should_resplit(light, 1, cores)
    # heaviness is per chunk: 8 chunks of the 32-core case need 8x bytes
    assert not _should_resplit(8 * per_chunk - 1, 8, 32)


def test_load_table_tolerates_unstatable_path(spark, tmp_path):
    """r12: a path that os.path.getmtime cannot stat (remote FS in
    production; a deleted file here) must fall through to the plain
    uncached spark.read.parquet — surfacing Spark's own error, not a
    driver-side OSError from the metadata cache."""
    import pytest
    from pyspark.errors import AnalysisException

    from bbdc20_submission_spark.sources.harness import load_table

    with pytest.raises(AnalysisException):
        load_table(spark, "documents", str(tmp_path / "nowhere"))
