"""Readers for the driver-generated harness tables (TESTDATA.md).

Parquet scans: Catalyst pushes column pruning and predicates into the
scan (check ``.explain`` for ``PushedFilters`` / ``ReadSchema``), so
callers should filter/select on the returned DataFrame directly rather
than pre-materializing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HARNESS_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# (path, mtime) -> (inferred StructType, _effective_splits result);
# one footer walk + one inference job per distinct file version — see
# load_table. The splits stats share the schema's key because they are
# derived from the same footer bytes and invalidate together (r12: the
# stats were recomputed per call on a cached key, O(files x row-groups)
# of driver work per read).
_META_CACHE: dict[tuple[str, float], tuple[object, tuple[int, int] | None]] = {}


def _events_ts_is_nanos(path: str) -> bool:
    """Footer peek: does ``events.parquet`` store ``ts`` as nanos?

    Drives whether ``load_table`` must flip the session-global
    ``nanosAsLong`` conf. On any local-read failure (remote FS, odd
    layout) fall back to ``True`` — the conf is harmless for µs
    layouts, so the fallback is the legacy always-set behavior.
    """
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        field = ds.dataset(path, format="parquet").schema.field("ts")
        return pa.types.is_timestamp(field.type) and field.type.unit == "ns"
    except Exception:
        return True


# Adaptive re-split (r11): a scan whose input offers far fewer
# independently readable chunks than the cluster has cores serializes
# every pre-shuffle narrow stage onto those few cores — the r10 scale
# probes measured d2_text_quality at 30 s on a single-file 16x replica
# vs 10.8 s on the same volume staged as 32 files. Parquet can only be
# read row-group-parallel, so a big single-row-group file is ONE chunk
# no matter how Spark sizes byte splits. When the effective chunk
# count is at most a quarter of the cores AND the DECODED payload per
# chunk is heavy enough that the one-time round-robin shuffle is
# trivially amortized, insert an explicit repartition to
# defaultParallelism. At 100 TB real inputs carry thousands of row
# groups and never trigger this; it rescues the pathological
# under-split small/medium layout (test replicas, hand-exported
# files) where the shuffle costs milliseconds and the unlocked
# parallelism is worth 3-20x on compute-heavy narrow stages.
#
# Both sides of the threshold are MEASURED, not guessed: an A/B over
# the full 50-query bench at sf0.1 showed a repartition inserted
# under light chunks (sf0.1 lineitem: 600k rows but only 13.6 MB
# decoded) costs ~+0.5 s of shuffle round-trip per query with no
# downstream win, while the 16x single-file documents replica
# (~30 MB+ decoded text in ONE chunk feeding Arrow-batched scoring)
# was 3x wall. The trigger counts STRING (BYTE_ARRAY) bytes only:
# the narrow stages worth parallelizing are per-char text work
# (scoring, tokenization, regex/UDF passes), while numeric fact
# tables scan fast and lose outright to the inserted shuffle — the
# r11 probe measured a 16x lineitem replica (218 MB decoded, ~0
# string bytes) regressing a2/j1 from 2.3x/5.1x to 17x/18x when the
# trigger keyed on total decoded bytes. String bytes per chunk is
# the footer-visible proxy that separates the two regimes. The 6 MB
# floor: a serialized scoring stage measured ~0.7 s per MB of string
# payload, so past ~6 MB/chunk the one-core loss clearly exceeds the
# ~0.5 s shuffle round-trip even for cheaper narrow stages, while
# every certified SF stays untouched (sf0.1 documents: 1.5 MB string
# bytes, 4x headroom) — a 4x single-file replica at 8.2 MB/chunk ran
# its scoring stage 2x slower than the 16x replica that DID re-split.
_RESPLIT_STR_BYTES_PER_CHUNK = 6 << 20
# matches spark.sql.files.openCostInBytes — the floor Spark itself
# uses when sizing byte splits, so chunk estimates agree with the
# scheduler's own granularity
_SPLIT_BYTE_FLOOR = 4 << 20


def _should_resplit(str_bytes: int, chunks: int, cores: int) -> bool:
    """The adaptive re-split rule: heavy string payload per chunk AND
    at most a quarter as many chunks as cores (the re-split buys >= 4x
    read parallelism). On 4 cores one heavy chunk qualifies: the
    30 000-row single-chunk test table (~44 MB of decoded strings) ran a
    quality_score pass in 14.4 s as read vs 4.7 s after
    repartition(4), a regex-token pass in 2.4 s vs 0.9 s. One core
    never re-splits."""
    return (
        str_bytes >= chunks * _RESPLIT_STR_BYTES_PER_CHUNK
        and chunks * 4 <= cores
    )


def _effective_splits(path: str) -> tuple[int, int] | None:
    """(decoded string bytes, independently readable chunks) for a
    parquet path from FOOTER metadata only — no Spark job. A file's
    chunk count is bounded both by its row groups (the read-parallel
    unit) and by the byte splits Spark would cut (floor 4 MB); string
    bytes is the sum of uncompressed BYTE_ARRAY column-chunk sizes
    (post-encoding, so dictionary-collapsed constants count small —
    correct, they decode cheap too). None when the footer isn't
    locally readable (remote FS) — callers skip the re-split."""
    try:
        import os as _os

        import pyarrow.dataset as ds

        dataset = ds.dataset(path, format="parquet")
        str_bytes = 0
        chunks = 0
        for frag in dataset.get_fragments():
            md = frag.metadata
            byte_splits = max(
                1, _os.path.getsize(frag.path) // _SPLIT_BYTE_FLOOR
            )
            chunks += max(1, min(md.num_row_groups, byte_splits))
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    if col.physical_type == "BYTE_ARRAY":
                        str_bytes += col.total_uncompressed_size
        return str_bytes, chunks
    except Exception:
        return None


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one harness table. Schema comes from parquet footer metadata.

    ``events.ts`` has shipped in three physical layouts across testdata
    generations; normalize all of them to a proper ``TimestampType``
    (instant semantics, UTC) so every downstream query can rely on
    ``unix_millis(ts)`` / ``withWatermark("ts", ...)`` working:

    * TIMESTAMP(NANOS) — Spark's vectorized reader rejects it; read as
      long (legacy conf) and rebuild with exact integer division (nanos
      don't fit double precision, so no float math).
    * ``timestamp[us]`` UTC-adjusted — already ``TIMESTAMP``, no-op.
    * ``timestamp[us]`` NOT UTC-adjusted — Spark 4 reads TIMESTAMP_NTZ,
      which ``unix_millis``/watermarks reject. The oracle (DuckDB)
      treats naive timestamps as UTC, so pin the session timezone to
      UTC and cast — the cast reinterprets the wall-clock fields in the
      session zone, making this an exact bit-identical mapping.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _events_ts_is_nanos(path):
        # Required to read the legacy TIMESTAMP(NANOS) layout. Set only
        # when the footer actually says nanos so harness-owned sessions
        # aren't mutated for the common µs layouts.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # schema-inference cache (r11): a bare spark.read.parquet runs a
    # one-task schema-inference JOB per call; on a bench of 50 small
    # queries that's one driver-planning gap (and one slot of ambient
    # noise surface) per table read for a schema that never changes.
    # First read infers and caches (keyed by path + mtime so a
    # regenerated table re-infers); later reads pass the schema
    # explicitly — identical frame, one fewer job. A path that isn't
    # locally stat-able (s3://, hdfs://) skips the cache AND the
    # footer-based re-split probe and falls back to the plain scan —
    # the same remote-FS tolerance the adjacent footer helpers have
    # (on a real cluster those layouts carry thousands of row groups
    # and never need the re-split anyway).
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    if mtime is None:
        df = spark.read.parquet(path)
        stats = None
    else:
        key = (path, mtime)
        cached = _META_CACHE.get(key)
        if cached is None:
            df = spark.read.parquet(path)
            stats = _effective_splits(path)
            _META_CACHE[key] = (df.schema, stats)
        else:
            schema, stats = cached
            df = spark.read.schema(schema).parquet(path)
    if name == "events":
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype == "timestamp_ntz":
            # The harness may hand us a session we didn't configure —
            # the NTZ→TIMESTAMP cast goes through the session timezone,
            # so it must be UTC for oracle-identical instants.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if stats is not None:
        cores = spark.sparkContext.defaultParallelism
        if _should_resplit(*stats, cores):
            # predicate pushdown and column pruning both commute with
            # Repartition in Catalyst, so the scan keeps its
            # PushedFilters/ReadSchema; only the post-scan stages fan
            # out across the cluster
            df = df.repartition(cores)
    return df


def table_row_count(name: str, sf_dir: str = DEFAULT_SF_DIR) -> int | None:
    """Exact row count of a harness table from parquet FOOTER metadata
    only — O(number of files) driver-side reads, no Spark job, no data
    pages touched. The cheap way to size auto-scaled knobs (SemDeDup
    auto-k, sample thinning) without paying a full-scan ``count()``.
    Returns None when the path isn't locally footer-readable (remote
    FS, non-parquet source) — callers fall back to a real count."""
    try:
        import pyarrow.dataset as ds

        dataset = ds.dataset(
            os.path.join(sf_dir, f"{name}.parquet"), format="parquet"
        )
        return sum(
            frag.metadata.num_rows for frag in dataset.get_fragments()
        )
    except Exception:
        return None


def table_column_max(
    name: str, column: str, sf_dir: str = DEFAULT_SF_DIR
) -> int | None:
    """Exact maximum of an integer column from parquet row-group
    min/max STATISTICS only — footer reads, no Spark job, no data
    pages (int64 stats are exact, never truncated). What planted-
    ground-truth queries use to derive a collision-proof id offset
    (max + 1) at any data scale. Returns None when the path isn't
    footer-readable, the column is missing, or any row group lacks
    stats — callers fall back to a real max() job."""
    try:
        import pyarrow.dataset as ds

        dataset = ds.dataset(
            os.path.join(sf_dir, f"{name}.parquet"), format="parquet"
        )
        best: int | None = None
        for frag in dataset.get_fragments():
            md = frag.metadata
            names = md.schema.names
            if column not in names:
                return None
            ci = names.index(column)
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(ci).statistics
                if stats is None or not stats.has_min_max:
                    return None
                best = stats.max if best is None else max(best, stats.max)
        return best
    except Exception:
        return None


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read all harness tables into a name -> DataFrame dict."""
    return {name: load_table(spark, name, sf_dir) for name in HARNESS_TABLES}
