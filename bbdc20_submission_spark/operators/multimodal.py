"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The Spark-side machinery (schemas, batch iteration, partition sizing,
UDF signatures) is real and tested; the actual codec work is stubbed
behind ``decode_fn`` hooks because the image/audio libraries are not in
this container — a deterministic fake decoder stands in so shapes and
plumbing are exercised end-to-end. Swap ``fake_decode_image`` for a
PIL/libvips call in production; nothing else changes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed metadata for an opaque media blob.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def fake_decode_image(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for an image decoder: interprets the raw
    bytes as a 1-D uint8 signal. Replace with PIL.Image.open in prod.

    A real decoder is NOT available in this container by contract;
    anything needing one must raise if this fake is unacceptable."""
    return np.frombuffer(payload or b"\x00", dtype=np.uint8).astype(np.float64)


def decode_image_strict(payload: bytes) -> np.ndarray:
    """Production decode hook — intentionally unimplemented here."""
    raise NotImplementedError("image codec not available in this environment")


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes], np.ndarray] = fake_decode_image,
    n_bins: int = 8,
) -> DataFrame:
    """Per-blob feature extraction with mapInPandas.

    Arrow-batched: each pandas batch holds whole blobs; the decode loop
    is per-row inside the batch (codecs are per-object), but all
    arithmetic is numpy-vectorized. Output: an n_bins histogram sketch
    per blob — the shape any real embedding/feature step produces."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, nbytes = [], []
            for payload in pdf["payload"]:
                arr = decode_fn(payload)
                hist, _ = np.histogram(arr, bins=n_bins, range=(0, 256))
                total = hist.sum() or 1
                feats.append((hist / total).tolist())
                nbytes.append(len(payload) if payload is not None else 0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pd.Series(nbytes, dtype="int64"),
                    "feature": feats,
                }
            )

    # ship only the two columns the batch fn reads — kind/mime/size
    # metadata would otherwise ride the Arrow boundary per blob just
    # to be dropped (same pruning compute_phash below already does)
    return media.select("media_id", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def frame_sample_stub(media: DataFrame, every_ms: int) -> DataFrame:
    """Video frame sampling plumbing: emits one row per sampled frame
    offset using the duration metadata (sequence+explode — a narrow
    generator, same pattern as the interval-grid operator). The frame
    payload decode is stubbed to null; a real ffmpeg step fills it."""
    return media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.coalesce(F.col("duration_ms"), F.lit(0)).cast("long"),
                F.lit(every_ms).cast("long"),
            )
        ).alias("frame_offset_ms"),
        F.lit(None).cast("binary").alias("frame_payload"),
    )


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests/demos (seeded bytes)."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = bytes(((i * 31 + j * 7) % 256) for j in range(64 + (i % 5) * 16))
        rows.append(
            (
                i,
                kind,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                64,
                48,
                1000 * (i % 7 + 1) if kind == "video" else None,
                payload,
            )
        )
    # few partitions: with n~64 rows, one Arrow batch per partition —
    # avoids spawning a Python UDF worker per (mostly empty) partition
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(4)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.LongType(), False),
        T.StructField("_fp", T.LongType(), False),
    ]
)


def perceptual_hash(
    media: DataFrame,
    decode_fn: Callable[[bytes], np.ndarray] = fake_decode_image,
    taps: int = 65,
) -> DataFrame:
    """Difference-hash (dHash) per blob: resample the decoded signal
    to ``taps`` points, bit i = 1 iff tap[i+1] > tap[i] — so ``taps``
    points yield ``taps - 1`` bits (default 65 → the standard 64-bit
    dHash; any 3..65 works, packed into the low bits of the long).
    With a real decoder this is the standard image dHash
    (gradient-sign sketch, robust to re-encoding/scaling); here the
    deterministic fake decoder stands in, but the Spark-side shape —
    Arrow batches in, one signed-long fingerprint per blob out — is
    the production one. Output: [_id, _fp], ready for
    ``dedup.hamming_near_pairs``.

    Width caveat: ``hamming_near_pairs``'s multi-index band slices —
    and therefore its pigeonhole recall guarantee and its hot-bucket
    economics — assume FULL 64-bit fingerprints. With ``taps < 65``
    the unused high bits are zero for every blob, so the high band
    slices become UNIVERSAL buckets holding the whole corpus: under
    the exact hot-bucket plan (``exact_hot_buckets=True``) the
    probe-side explosion then makes candidate volume quadratic in n,
    and under the bounded plan (``media_near_dups``'s default) recall
    holds only up to the bucket cap per sub. Use taps=65 for dedup;
    smaller widths are for compact similarity sketches, not the
    near-dup path."""
    if not 3 <= taps <= 65:
        raise ValueError(
            f"taps={taps}: need 3..65 (taps-1 bits must fit a 64-bit long)"
        )
    n_bits = taps - 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(n_bits, dtype=np.uint64)
        for pdf in batches:
            ids, fps = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = decode_fn(payload)
                if arr.size < 2:
                    arr = np.pad(arr, (0, 2 - arr.size))
                sig = np.interp(
                    np.linspace(0, arr.size - 1, taps),
                    np.arange(arr.size),
                    arr,
                )
                bits = (sig[1:] > sig[:-1]).astype(np.uint64)
                if bits.size != n_bits:  # assert would vanish under -O
                    raise ValueError(
                        f"decode/resample mismatch for media_id={mid}: "
                        f"got {bits.size} bits, expected {n_bits}"
                    )
                v = int((bits * weights).sum())
                ids.append(mid)
                fps.append(v - (1 << 64) if v >= (1 << 63) else v)
            yield pd.DataFrame(
                {
                    "_id": pd.Series(ids, dtype="int64"),
                    "_fp": pd.Series(fps, dtype="int64"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, schema=PHASH_SCHEMA)


def media_near_dups(
    media: DataFrame,
    max_hamming: int = 8,
    decode_fn: Callable[[bytes], np.ndarray] = fake_decode_image,
    bucket_cap: int = 1024,
    exact_hot_buckets: bool | None = False,
) -> DataFrame:
    """Near-duplicate media detection: perceptual dHash, then the
    multi-index Hamming candidate join (pigeonhole recall 1 over the
    budget — same machinery as the SimHash text path, which is the
    point: one scale-safe fingerprint-join operator serves every
    64-bit signature source). Fingerprints are persisted (2 longs per
    blob) because the join reads them from three sides; payloads are
    decoded exactly once and never shuffle.
    Output: [id_a, id_b, hamming].

    ``exact_hot_buckets`` defaults to ``False`` here (unlike the text
    path): media dedup consumes these pairs for cluster CONNECTIVITY
    (keep one blob per near-dup family), and the bounded plan (r12)
    preserves that through hamming-VERIFIED chain edges linking each
    hot bucket's consecutive sub-buckets, plus ~rounds/m cross-sub
    pair sampling per band (``hamming_near_pairs``; rounds =
    ``dedup._BOUNDED_PROBE_ROUNDS``, 4) — perceptual hashes are exactly the
    case where hot buckets arise from genuine mass duplication
    (re-encoded copies of one asset) or, with ``taps < 65``, from
    zero high bits making the high band slices universal, so the
    never-quadratic plan is the right default. Pass ``True`` only
    when every individual pair matters and the corpus is inside the
    multi-index applicability window (see ``hamming_near_pairs``), or
    ``None`` for the auto mode guarded by
    ``dedup._EXACT_PAIR_BUDGET`` (1e9 pair evals). With the bounded
    default, building the plan fires no Spark job."""
    from bbdc20_submission_spark.caching import managed_persist
    from bbdc20_submission_spark.operators.dedup import hamming_near_pairs

    fp = managed_persist(perceptual_hash(media, decode_fn))
    return hamming_near_pairs(
        fp,
        max_hamming=max_hamming,
        bucket_cap=bucket_cap,
        exact_hot_buckets=exact_hot_buckets,
    )
