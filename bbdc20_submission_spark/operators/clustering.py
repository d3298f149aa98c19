"""Embedding clustering (IVF-style coarse quantization).

KMeans over the embedding column serves two roles in a training-data
pipeline: (a) corpus analysis/stratification, (b) the coarse quantizer
of an IVF ANN index — cluster centroids become the inverted-file
buckets that `similarity.cosine_topk_lsh` style pruning searches
within.

Quantizer TRAINING runs driver-side on a bounded seeded sample (numpy
Lloyd's): centroid quality needs only a fraction of the corpus (the
faiss-IVF / SemDeDup training recipe — both train on an in-memory
sample), the sample is capped at ``sample_cap`` rows so driver memory
is O(sample·dim + k·dim) regardless of corpus size, and the fit is a
few vectorized matmuls instead of one Spark job per Lloyd iteration.
On a 1000-executor cluster the former is milliseconds of driver CPU;
the latter is ``max_iter`` full scheduler round-trips over cached
data (measured: two Spark ML fits dominated the s4 suite at 11 s for
2 000 rows — pure job overhead).

ASSIGNMENT stays fully distributed and single-pass: nearest-centroid
argmin via whole-stage-codegen array expressions for small k, or an
Arrow-batched pandas UDF (one numpy matmul per batch) for large k —
either way one narrow map, no shuffle, no iteration.

Seeded → deterministic assignments for a fixed file layout (the fit
sample is the first ``sample_cap`` rows of a seeded Bernoulli sample
in scan order, like any sample-based fit on a fixed input).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# assignment strategy switch: at or below this k the per-centroid
# distance expressions stay comfortably inside whole-stage codegen;
# above it the O(k·dim) literal expression tree outgrows codegen (and
# py4j plan-build time), so assignment moves to an Arrow-batched
# pandas UDF whose cost is one numpy matmul per record batch.
_EXPR_MAX_K = 32
# expression-path budget on k*dim: the literal fold tree costs O(k*dim)
# INTERPRETED lambda dispatches per row (higher-order functions never
# enter codegen), so past ~512 products the Arrow-batched matmul wins
# despite its Python dispatch overhead (A/B at k=31, dim=64: 0.71 s vs
# 0.20 s steady-state on 2k rows)
_EXPR_MAX_KDIM = 512

_DEFAULT_SAMPLE_CAP = 262_144


class CentroidQuantizer:
    """A fitted coarse quantizer: ``centers`` is a (k, dim) float64
    ndarray. Exposes ``clusterCenters()`` for compatibility with the
    Spark-ML-model subset the operators here historically consumed.

    ``save``/``load`` persist the centroid matrix as JSON — the
    fit-once / reuse-everywhere artifact of an IVF deployment: one job
    trains the quantizer on a corpus sample, every later
    assign/ivf_topk/semantic_dedup job (batch or streaming) loads the
    same centroids from shared storage instead of refitting. Python
    float repr round-trips IEEE doubles exactly, so save->load is
    bit-identical and assignments stay deterministic across jobs."""

    def __init__(self, centers: np.ndarray) -> None:
        self.centers = np.asarray(centers, dtype=np.float64)

    def clusterCenters(self) -> list[np.ndarray]:
        return [c for c in self.centers]

    def save(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump({"centers": self.centers.tolist()}, fh)

    @classmethod
    def load(cls, path: str) -> "CentroidQuantizer":
        import json

        with open(path) as fh:
            return cls(np.asarray(json.load(fh)["centers"], dtype=np.float64))


# Driver-fit thread budget: this numpy's OpenBLAS is built with
# MAX_THREADS=2 (measured — OPENBLAS_NUM_THREADS can't raise it), so
# the O(iters * n * k * dim) Lloyd/argmin dgemms and the k sequential
# k-means++ distance sweeps run near-serial unless WE parallelize the
# row-chunk loops. Chunks are disjoint (independent outputs, per-chunk
# buffers), numpy releases the GIL inside ufuncs/dgemm, and a row's
# own operand order never changes — so threading is BIT-IDENTICAL.
_FIT_THREADS = max(1, int(os.environ.get("SPARK_GRAFT_FIT_THREADS", "16")))


def _run_chunked(work, n: int, step: int) -> None:
    """Run ``work(lo, hi, slot)`` over row chunks, threaded when the
    input is big enough to amortize pool overhead. ``slot`` indexes a
    caller-preallocated per-thread scratch buffer (chunks are issued
    round-robin, so chunk i always uses slot i % threads and at most
    ``_FIT_THREADS`` slots are ever live concurrently)."""
    chunks = [(lo, min(lo + step, n)) for lo in range(0, n, step)]
    if len(chunks) == 1 or n < (1 << 15):
        for i, (lo, hi) in enumerate(chunks):
            work(lo, hi, i % _FIT_THREADS)
        return
    from concurrent.futures import ThreadPoolExecutor

    workers = min(_FIT_THREADS, len(chunks))
    with ThreadPoolExecutor(workers) as ex:
        # one task per SLOT, each walking every (workers)-th chunk:
        # two tasks never share a scratch slot, so per-slot buffers
        # are race-free by construction
        def run_slot(s):
            for i in range(s, len(chunks), workers):
                lo, hi = chunks[i]
                work(lo, hi, s)

        list(ex.map(run_slot, range(workers)))


def _argmin_rows(X: np.ndarray, centers: np.ndarray) -> np.ndarray:
    """Row-chunked nearest-centroid argmin (ties → lowest index).
    ``‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²`` and the ``‖x‖²`` term is constant
    per row, so it drops out of the argmin. Chunking bounds each
    distance block at ~2M doubles for any k·sample combination and
    feeds the driver-fit thread pool (see ``_FIT_THREADS``)."""
    k = centers.shape[0]
    c2 = (centers * centers).sum(axis=1)
    step = max(1, (1 << 21) // max(k, 1))
    out = np.empty(X.shape[0], dtype=np.int64)

    def work(lo, hi, _slot):
        d = X[lo:hi] @ centers.T
        d *= -2.0
        d += c2[None, :]
        out[lo:hi] = np.argmin(d, axis=1)

    _run_chunked(work, X.shape[0], step)
    return out


def _dist2_to_center(
    X: np.ndarray, c: np.ndarray, bufs: np.ndarray, out: np.ndarray
) -> np.ndarray:
    """``((X - c)**2).sum(axis=1)`` with preallocated PER-THREAD
    buffers, row-chunked and threaded — BIT-IDENTICAL values (same
    per-row operand order; row chunking never changes a row's own
    summation, and chunks write disjoint ``out`` slices), but without
    the three n x dim temporaries the expression form allocates. At
    auto-k scale (k ~ hundreds-to-thousands of sequential k-means++
    steps over a capped sample) the expression form moved
    ~130 MB x 3 x k through the allocator — the same memory-bandwidth
    wall as the r13 hamming-kernel finding, measured 50 s at
    (n=160k, k=533) for what is ~1e10 flops; threading then buys back
    the 2-thread OpenBLAS build's idle cores."""
    step = bufs.shape[1]

    def work(lo, hi, slot):
        b = bufs[slot][: hi - lo]
        np.subtract(X[lo:hi], c[None, :], out=b)
        np.multiply(b, b, out=b)
        b.sum(axis=1, out=out[lo:hi])

    _run_chunked(work, X.shape[0], step)
    return out


def _kmeanspp_init(X: np.ndarray, k: int, rng: np.random.RandomState) -> np.ndarray:
    """Seeded k-means++ seeding (Arthur & Vassilvitskii 2007): each
    next center is sampled ∝ squared distance to the nearest chosen
    one. O(k·n·dim) on the in-memory sample, evaluated through the
    preallocated chunked kernel (:func:`_dist2_to_center`) so the
    sequential k steps stay compute- rather than allocator-bound;
    far more robust to the merged/split-cluster local optima plain
    random init falls into at small k."""
    n = X.shape[0]
    dim = X.shape[1]
    centers = np.empty((k, dim), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    rows = max(1, (1 << 18) // max(dim, 1))
    bufs = np.empty((_FIT_THREADS, rows, dim))
    nd = np.empty(n)
    d2 = _dist2_to_center(X, centers[0], bufs, np.empty(n)).copy()
    for i in range(1, k):
        total = d2.sum()
        if total <= 0.0:  # all remaining points coincide with a center
            centers[i:] = X[rng.choice(n, size=k - i)]
            break
        probs = d2 / total
        centers[i] = X[rng.choice(n, p=probs)]
        np.minimum(d2, _dist2_to_center(X, centers[i], bufs, nd), out=d2)
    return centers


def _lloyd(X: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """Seeded k-means++ init + Lloyd's iterations over an in-memory
    sample. Empty clusters keep their previous center (the standard
    small-k fix); early-exits on convergence."""
    n = X.shape[0]
    if n == 0:
        raise ValueError("cannot fit a quantizer on an empty sample")
    k = min(k, n)
    rng = np.random.RandomState(seed)
    centers = _kmeanspp_init(X, k, rng)
    for _ in range(max_iter):
        assign = _argmin_rows(X, centers)
        sums = np.zeros_like(centers)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        nz = counts > 0
        new = centers.copy()
        new[nz] = sums[nz] / counts[nz, None]
        if np.allclose(new, centers, rtol=0.0, atol=1e-12):
            return new
        centers = new
    return centers


def fit_quantizers(
    df: DataFrame,
    ks: list[int],
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    fit_fraction: float = 1.0,
    sample_cap: int = _DEFAULT_SAMPLE_CAP,
    approx_n: int | None = None,
) -> list[CentroidQuantizer]:
    """Multi-resolution quantizers from ONE sample scan: fit a
    quantizer per k in ``ks`` on the SAME bounded seeded sample (one
    collect instead of len(ks) — the common suite/IVF shape where a
    corpus needs both a coarse certification quantizer and a finer
    dedup/IVF one). Each k's centroids are bit-identical to the
    single-k :func:`fit_quantizer` with the same arguments (the shared
    sample underfills — and refits on the corpus head — based on
    max(ks), so on corpora tiny enough to trigger that refit a small-k
    model may train on the widened sample a lone small-k fit wouldn't
    have needed; same cap-bounded contract either way)."""
    if not ks:
        raise ValueError("fit_quantizers: ks must name at least one k")
    rows = _fit_sample(
        df, max(ks), vec_col, seed, fit_fraction, sample_cap, approx_n
    )
    X = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    return [CentroidQuantizer(_lloyd(X, k, seed, max_iter)) for k in ks]


def _fit_sample(
    df: DataFrame,
    k: int,
    vec_col: str,
    seed: int,
    fit_fraction: float,
    sample_cap: int,
    approx_n: int | None,
) -> list:
    """The bounded seeded fit sample of :func:`fit_quantizer` (see
    there for the thinning/cap/refit-on-underfill contract)."""
    # NOTE the explicit 3-positional form: PySpark 4.1's overloaded
    # sample() drops a keyword `seed` when fraction is passed
    # positionally (measured: different rows per invocation) — the
    # (withReplacement, fraction, seed) form is honored.
    fit_on = df if fit_fraction >= 1.0 else df.sample(False, fit_fraction, seed)
    # When the (possibly already-thinned) scan is known to dwarf the
    # cap, the deterministic head alone would train on a scan-order
    # PREFIX of each partition — biased on sorted/clustered layouts.
    # A seeded Bernoulli thin down to ~4x the cap first makes the cap
    # trim a random sample instead; 4x oversampling keeps the chance
    # of under-filling the cap negligible. Needs ``approx_n`` (an
    # external row-count hint, e.g. parquet footer counts) — without
    # it no thinning happens, matching the documented head semantics.
    if approx_n is not None:
        eff_n = approx_n * min(fit_fraction, 1.0)
        if eff_n > 4 * sample_cap:
            fit_on = fit_on.sample(False, 4 * sample_cap / eff_n, seed + 1)
    # NULL vectors carry no geometry — drop them from the fit sample
    # (they would make the sample matrix ragged); assignment/dedup
    # consumers handle them on their own paths
    sel = F.col(vec_col).cast("array<double>").alias("_v")
    src = fit_on.select(sel).filter(F.col("_v").isNotNull())
    rows = _deterministic_head(src, sample_cap).collect()
    if len(rows) < k:
        rows = _deterministic_head(
            df.select(sel).filter(F.col("_v").isNotNull()), sample_cap
        ).collect()
    return rows


def fit_quantizer(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    fit_fraction: float = 1.0,
    sample_cap: int = _DEFAULT_SAMPLE_CAP,
    approx_n: int | None = None,
) -> CentroidQuantizer:
    """Train the coarse quantizer on a bounded seeded sample and return
    it as a :class:`CentroidQuantizer`.

    Separated from assignment so callers at scale fit ONCE and reuse
    the quantizer across corpora/queries/batches. ``fit_fraction``
    thins the scan (seeded Bernoulli sample — at 100 TB this is what
    keeps the collect a scan of a fraction, with predicate-independent
    row skipping); ``sample_cap`` hard-bounds driver memory via a
    deterministic per-partition head (a plain LIMIT races partition
    completion order, so the same seed would collect different rows
    run to run). If the thinned sample has fewer than k rows, refit on
    the unthinned head of the corpus so tiny inputs still yield
    k ≤ n centroids."""
    rows = _fit_sample(
        df, k, vec_col, seed, fit_fraction, sample_cap, approx_n
    )
    X = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    return CentroidQuantizer(_lloyd(X, k, seed, max_iter))


def _deterministic_head(frame: DataFrame, cap: int) -> DataFrame:
    """At most ~``cap`` rows as the first ``cap // num_partitions``
    rows of EACH partition — a pure function of the physical layout,
    unlike LIMIT (whose early-exit keeps whichever partitions answer
    first). monotonically_increasing_id encodes the row index within
    its partition in the low 33 bits."""
    n_parts = max(frame.rdd.getNumPartitions(), 1)
    per_part = max(1, cap // n_parts)
    return (
        frame.withColumn("_rid", F.monotonically_increasing_id())
        .filter(F.col("_rid").bitwiseAND(F.lit((1 << 33) - 1)) < per_part)
        .drop("_rid")
    )


def _sql_double_array(values: list[float]) -> str:
    """SQL literal for array<double> — repr round-trips through the
    JVM double parser exactly (shortest-repr invariant)."""
    return "array(%s)" % ",".join(f"{float(v)!r}D" for v in values)


def _dist2_sql(arr_sql: str, center: list[float]) -> str:
    """Squared L2 distance from an array<double> column (by SQL name)
    to one literal centroid, as a SQL string. Built as ONE parsed
    expression instead of per-element ``F.lit`` trees: the py4j
    plan-build tax of k·dim Column calls (~0.7 s at k=8, dim=64)
    collapses to a single JVM parse."""
    return (
        f"aggregate(zip_with({arr_sql}, {_sql_double_array(center)}, "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v)"
    )


def _with_cluster(
    df: DataFrame,
    centers: np.ndarray,
    vec_col: str,
    out_col: str = "cluster",
    keep_dists: bool = False,
) -> DataFrame:
    """Append the nearest-centroid id (ties → lowest) as ``out_col`` in
    one narrow pass, preserving all input columns. Small k·dim:
    literal distance expressions + ``array_position(array_min)``
    argmin (zip_with/aggregate folds are INTERPRETED, not codegen'd,
    so their per-row cost is O(k·dim) lambda dispatches — measured
    3.5x slower than the matmul at k=31, dim=64; the expression path
    only wins while the fold tree is small enough that Arrow transfer
    + Python dispatch overhead dominates). Large k·dim: Arrow-batched
    pandas UDF, one numpy matmul per batch (centroids ride an explicit
    broadcast).

    ``keep_dists=True`` (small-k only, k <= _EXPR_MAX_K) also keeps
    the per-centroid squared-distance array as ``_d`` for invariant
    checks — it forces the expression path regardless of the cost
    switch, since the UDF form never materializes distances."""
    k = int(centers.shape[0])
    dim = int(centers.shape[1]) if centers.ndim == 2 else 0
    if k <= _EXPR_MAX_K and (keep_dists or k * dim <= _EXPR_MAX_KDIM):
        arr_sql = f"CAST(`{vec_col}` AS array<double>)"
        dists = F.expr(
            "array(%s)" % ",".join(_dist2_sql(arr_sql, c) for c in centers.tolist())
        )
        out = df.withColumn("_d", dists).withColumn(
            out_col, (F.array_position("_d", F.array_min("_d")) - 1).cast("long")
        )
        return out if keep_dists else out.drop("_d")
    if keep_dists:
        raise ValueError("keep_dists requires k <= %d" % _EXPR_MAX_K)
    nearest = _nearest_pandas_udf(df.sparkSession, centers)
    return df.withColumn(out_col, nearest(F.col(vec_col).cast("array<double>")))


def _nearest_pandas_udf(spark, centers: np.ndarray):
    """Arrow-batched nearest-centroid UDF (one numpy matmul per batch,
    ``‖x‖²``-dropped distance, ties → lowest index). The centroid
    matrix rides an EXPLICIT ``sparkContext.broadcast`` — at auto-k
    scale (k·dim doubles can be MBs) the matrix ships to each executor
    once via the broadcast manager instead of re-serializing inside
    every task's pickled command."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centers, dtype=np.float64)
    bc = spark.sparkContext.broadcast(C)
    step = max(1, (1 << 24) // max(int(C.shape[0]), 1))

    # The closure must reference ONLY local vars (the Broadcast handle
    # is fine — workers fetch its value from the broadcast manager)
    # and library imports: a module-level helper would be cloudpickled
    # BY REFERENCE, requiring the package on executor PYTHONPATH —
    # which a harness-owned session from a foreign cwd doesn't have.
    @pandas_udf("long")
    def _nearest(v):  # pd.Series of array<double>
        import numpy as _np
        import pandas as _pd

        if len(v) == 0:
            return _pd.Series([], dtype="int64")
        Cw = bc.value
        dimw = int(Cw.shape[1])
        c2w = (Cw * Cw).sum(axis=1)
        rows = v.tolist()
        # NULL / wrong-dim vectors -> NULL cluster, matching the
        # expression path (zip_with pads length mismatches with nulls,
        # so every distance and hence the argmin comes out NULL there);
        # without the mask np.asarray raises on None / ragged input.
        valid = _np.fromiter(
            (r is not None and len(r) == dimw for r in rows),
            dtype=bool,
            count=len(rows),
        )

        def _assign(X):
            res = _np.empty(X.shape[0], dtype=_np.int64)
            for lo in range(0, X.shape[0], step):
                d = X[lo : lo + step] @ Cw.T
                d *= -2.0
                d += c2w[None, :]
                res[lo : lo + step] = _np.argmin(d, axis=1)
            return res

        if valid.all():
            try:
                return _pd.Series(_assign(_np.asarray(rows, dtype=_np.float64)))
            except (TypeError, ValueError):
                # inner NULL elements survive the length check; demote
                # those rows to invalid and fall through to the masked path
                for i, r in enumerate(rows):
                    if valid[i] and any(x is None or x != x for x in r):
                        valid[i] = False
        out = _pd.Series(_np.full(len(rows), -1, dtype=_np.int64)).astype("Int64")
        idx = _np.flatnonzero(valid)
        if idx.size:
            X = _np.asarray([rows[i] for i in idx], dtype=_np.float64)
            out.iloc[idx] = _assign(X)
        out[~valid] = _pd.NA
        return out

    return _nearest


def assign_clusters(
    model: CentroidQuantizer,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One narrow distributed pass: nearest-centroid assignment with a
    pre-fit quantizer. Output: [id_col, cluster]."""
    return _with_cluster(df.select(id_col, vec_col), model.centers, vec_col).select(
        id_col, "cluster"
    )


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    fit_fraction: float = 1.0,
    approx_n: int | None = None,
) -> DataFrame:
    """Fit + assign in one call. Output: [id_col, cluster].

    ``fit_fraction`` < 1 trains the quantizer on a seeded sample and
    then assigns the full corpus — the standard IVF trick at scale
    (centroid quality needs a fraction of the data; assignment is one
    cheap pass)."""
    model = fit_quantizer(
        df, k=k, vec_col=vec_col, seed=seed, max_iter=max_iter,
        fit_fraction=fit_fraction, approx_n=approx_n,
    )
    return assign_clusters(model, df, id_col=id_col, vec_col=vec_col)


def kmeans_assign_checked(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    fit_fraction: float = 1.0,
    model: CentroidQuantizer | None = None,
    keep_cols: tuple[str, ...] = (),
    approx_n: int | None = None,
) -> DataFrame:
    """KMeans assignment with a deterministic self-check column.

    Output: [id_col, *keep_cols, cluster, nearest_ok] — ``keep_cols``
    ride the same narrow pass (so a caller needing e.g. the vector
    downstream doesn't re-scan/join). nearest_ok = 1 iff an
    INDEPENDENT assignment path agrees: the expression-path argmin
    (literal per-centroid ``Σ(x−c)²`` fold + array_position) is
    cross-checked against the Arrow-batched numpy matmul argmin
    (``−2x·c + ‖c‖²`` — different arithmetic, different engine path),
    with a 1e-9 distance tolerance excusing genuine ties the two
    roundings may break differently. Cluster ids depend on the fit
    sample (physical-layout-specific), but cross-path agreement is an
    invariant of any correct assignment — it certifies the operator
    without hashing the labels, and unlike a recomputation from the
    shared ``_d`` array it cannot be satisfied by construction.
    Small-k only (the expression check needs the distance array).
    Pass a pre-fit ``model`` to skip training (fit-once reuse)."""
    if model is None:
        model = fit_quantizer(
            df, k=k, vec_col=vec_col, seed=seed, max_iter=max_iter,
            fit_fraction=fit_fraction, approx_n=approx_n,
        )
    in_cols = list(dict.fromkeys([id_col, *keep_cols, vec_col]))
    assigned = _with_cluster(
        df.select(*in_cols), model.centers, vec_col, keep_dists=True
    )
    alt_nearest = _nearest_pandas_udf(df.sparkSession, model.centers)
    assigned = assigned.withColumn(
        "_alt", alt_nearest(F.col(vec_col).cast("array<double>"))
    )
    out_cols = list(dict.fromkeys([id_col, *keep_cols]))
    return assigned.select(
        *out_cols,
        "cluster",
        (
            (F.col("cluster") == F.col("_alt"))
            | (
                F.abs(
                    F.element_at("_d", (F.col("cluster") + 1).cast("int"))
                    - F.element_at("_d", (F.col("_alt") + 1).cast("int"))
                )
                <= F.lit(1e-9)
            )
        )
        .cast("long")
        .alias("nearest_ok"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    fit_fraction: float = 1.0,
    model: CentroidQuantizer | None = None,
    nprobe: int = 1,
    approx_n: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: exact cosine re-rank restricted to the
    query's ``nprobe`` nearest KMeans cells. The clustered variant of
    the LSH path — higher recall per candidate at the cost of training
    the quantizer. ``nprobe`` > 1 is the standard recall knob: near
    neighbors just across a cell boundary (the dominant single-probe
    miss mode) become candidates; candidate cost grows only on the
    small QUERY side of the join.

    Scale hygiene: the quantizer is fit ONCE on a bounded sample of
    the corpus (pass a pre-fit ``model`` to skip training entirely,
    the right call for repeated query batches), and each side is
    assigned independently with that model — two narrow map passes,
    no union/distinct shuffle of wide vectors anywhere."""
    from pyspark.sql import Window

    from bbdc20_submission_spark.operators.similarity import (
        cosine_sql,
        l2_norm_sql,
    )

    if model is None:
        model = fit_quantizer(
            corpus, k=n_clusters, vec_col=vec_col, seed=seed,
            max_iter=max_iter, fit_fraction=fit_fraction, approx_n=approx_n,
        )

    # corpus: single-cell assignment, one narrow pass; the vector
    # rides along — no self-join back to ids. The l2 norm folds ONCE
    # per corpus row here (r13 HOF-pass sweep): the inline cosine()
    # form re-ran both norm folds per candidate PAIR — 6 interpreted
    # HOF passes/pair where only the dot varies. Bit-identical (same
    # fold, same _qn * _cn product — the r12 bruteforce precedent).
    c = _with_cluster(
        corpus.selectExpr(
            f"`{id_col}` AS match_id",
            f"`{vec_col}` AS _cv",
            f"{l2_norm_sql(f'`{vec_col}`')} AS _cn",
        ),
        model.centers,
        "_cv",
    )

    # queries: rank all centroids by squared distance (centroids are a
    # tiny literal array — pure narrow expression) and explode the
    # nprobe nearest cells per query
    centers = [ctr.tolist() for ctr in model.clusterCenters()]
    qarr_sql = f"CAST(`{vec_col}` AS array<double>)"
    ranked_sql = "array_sort(array(%s))" % ",".join(
        f"named_struct('d', {_dist2_sql(qarr_sql, ctr)}, 'i', CAST({i} AS BIGINT))"
        for i, ctr in enumerate(centers)
    )
    probes = F.expr(
        f"transform(slice({ranked_sql}, 1, {min(nprobe, len(centers))}), s -> s.i)"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.expr(l2_norm_sql(f"`{vec_col}`")).alias("_qn"),
        F.explode(probes).alias("cluster"),
    )
    scored = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("match_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "match_id",
            f"{cosine_sql('_qv', '_cv', '_qn', '_cn')} AS _sim",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "match_id",
            F.round("_sim", 6).alias("cosine_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def semdedup_auto_k(n: int, target_cell_size: int = 300) -> int:
    """The SemDeDup auto-k formula — ``n / target_cell_size`` clamped
    to [8, 65536] — exposed so a caller pre-fitting the quantizer
    (e.g. a one-scan :func:`fit_quantizers` multi-k suite) derives the
    SAME k :func:`semantic_dedup` would have chosen."""
    return int(min(max(n // target_cell_size, 8), 65536))


def _refine_hot_cells(
    assigned: DataFrame,
    refine_cap: int,
    target_cell_size: int,
    seed: int,
    max_iter: int = 10,
) -> DataFrame:
    """Two-level quantization for the clamped-k regime: cells of
    ``assigned`` ([.., _v, cluster]) above ``refine_cap`` members are
    split GEOMETRICALLY by a second KMeans level instead of (only) the
    hash sub-buckets ``_cap_buckets`` falls back to — hash splitting
    bounds cost but sacrifices cross-sub-bucket recall, while real
    sub-centroids keep near neighbors co-celled, so expected cell size
    stays ~``target_cell_size`` at ANY corpus size even after the
    coarse auto-k clamp (past ~20M vectors at the 65,536 clamp the
    expected coarse cell grows linearly; this layer restores constant
    cells, and the hash cap remains as the final bound for true
    point-mass cells KMeans cannot separate).

    One bounded driver fit (same ``fit_quantizer`` machinery, sample
    capped) over the union of all hot-cell members — the second-level
    centroid budget allocates by density, so each hot region gets
    sub-centroids proportional to its mass — then one narrow
    assignment pass over hot members only. The cell key becomes
    ``cluster * k2 + sub`` (coarse ids are disjoint, so keys never
    collide across coarse cells; cold cells keep sub=0). Cost when no
    cell is hot: ONE partial-aggregated count job, nothing else.

    Returns ``assigned`` with the ``cluster`` column rewritten to the
    composite key."""
    from bbdc20_submission_spark.operators.dedup import _collect_hot_dim

    # the collected dim is replayed as a local relation — joining
    # against the aggregate itself would re-execute it once per
    # consumer (semi-join + anti-join)
    hot, hot_rows, _ = _collect_hot_dim(assigned, ["cluster"], refine_cap)
    if not hot_rows:
        return assigned
    n_hot = sum(r["_bn"] for r in hot_rows)
    k2 = int(min(max(n_hot // target_cell_size, 2), 65536))
    hot_ids = hot.select("cluster")
    hot_members = assigned.join(F.broadcast(hot_ids), "cluster", "left_semi")
    model2 = fit_quantizer(
        hot_members,
        k=k2,
        vec_col="_v",
        seed=seed + 101,
        max_iter=max_iter,
        approx_n=n_hot,
    )
    refined = _with_cluster(hot_members, model2.centers, "_v", out_col="_c2")
    cold = assigned.join(
        F.broadcast(hot_ids), "cluster", "left_anti"
    ).withColumn("_c2", F.lit(0).cast("long"))
    return (
        cold.unionByName(refined)
        .withColumn(
            "cluster", F.col("cluster") * F.lit(int(k2)) + F.col("_c2")
        )
        .drop("_c2")
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    fit_fraction: float = 1.0,
    cap: int = 4096,
    target_cell_size: int = 300,
    model: CentroidQuantizer | None = None,
    approx_n: int | None = None,
    refine: bool | None = None,
    refine_cap: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): KMeans
    the embedding space, then within each cell prune any vector that has
    a LOWER-id cell-mate with cosine >= ``threshold`` (keep-lowest-id —
    the same tie rule as the text dedup family).

    Output: [id_col, keeper_id (nullable), pruned] — one row per input
    vector; ``keeper_id`` is the lowest-id duplicate found, null when
    kept. Greedy pairwise by design: transitive chains are finished by
    ``chunking.dedup_clusters`` when full clusters are needed.

    Scale shape: within-cell pair generation is O(sum of cell^2), so k
    must GROW with the corpus — a fixed k makes the self-join quadratic
    in n (measured 9x wall-clock on 4x data at k=16). With
    ``n_clusters=None`` (default) k auto-scales to
    ``n / target_cell_size`` (clamped to [8, 65536]; the SemDeDup paper
    runs ~50k clusters for the same reason), keeping expected cell size
    constant -> pair volume LINEAR in n. The quantizer fits driver-side
    on a bounded seeded sample, assignment is one narrow pass (pandas-
    UDF matmul above k=32 — exactly the auto-scaled regime), and
    skew-hot cells are still hash-split at ``cap`` members via the same
    sub-bucket trick as the LSH dedup, bounding the worst case at
    O(n * cap) with the documented recall trade. Pass a pre-fit
    ``model`` to skip the count + fit entirely (fit-once reuse when a
    suite already trained a quantizer on the same corpus), or
    ``approx_n`` (a row-count hint — parquet footer counts or a count
    the caller already materialized) so auto-k costs no extra
    full-scan ``count()`` job; auto-k only needs the ORDER of n, so
    any approximation within a small factor is fine.

    ``refine``: second-level quantization of over-full cells
    (:func:`_refine_hot_cells`) — the scale path past the auto-k
    clamp, where expected cell size otherwise grows linearly with n
    and the hash cap starts trading recall. ``None`` (default) =
    auto: on exactly when n is known and the expected cell size
    ``n / k`` exceeds ``2 * target_cell_size`` (the clamped regime, or
    a caller-fixed too-small k); off when nothing about n is known
    (pre-fit ``model`` with no ``approx_n``). ``refine_cap`` is the
    membership bar for the second level (default
    ``4 * target_cell_size``) — the hash ``cap`` stays as the final
    bound for point-mass cells KMeans cannot separate. At certified
    SFs no cell is hot, so refinement never changes oracle outputs;
    when auto-off it costs zero jobs."""
    from bbdc20_submission_spark.caching import managed_persist
    from bbdc20_submission_spark.operators.dedup import _cap_buckets

    n_known: int | None = approx_n
    if model is None:
        if n_clusters is None:
            n = approx_n if approx_n is not None else df.count()
            n_known = n
            n_clusters = semdedup_auto_k(n, target_cell_size)
        model = fit_quantizer(
            df, k=n_clusters, vec_col=vec_col, seed=seed,
            max_iter=max_iter, fit_fraction=fit_fraction, approx_n=approx_n,
        )
    if refine is None:
        k_eff = int(model.centers.shape[0])
        refine = (
            n_known is not None and n_known / k_eff > 2 * target_cell_size
        )
    arr = F.col(vec_col).cast("array<double>")
    assigned = _with_cluster(
        # NULL vectors can never be pruned nor serve as keepers
        # (their cosine is NULL in the expression form) — drop
        # them before the cell grouping so the numpy batch below
        # never sees one; they re-enter as kept rows through the
        # final left join
        df.select(F.col(id_col).alias("_id"), arr.alias("_v")).filter(
            F.col("_v").isNotNull()
        ),
        model.centers,
        "_v",
    )
    if refine:
        # the refinement reads `assigned` three times (hot count, fit
        # sample, re-assignment) — persist the narrow [id, vec,
        # cluster] frame instead of re-running the centroid matmul
        assigned = managed_persist(assigned)
        assigned = _refine_hot_cells(
            assigned,
            refine_cap or 4 * target_cell_size,
            target_cell_size,
            seed,
        )
    tagged = _cap_buckets(assigned, ["cluster"], "_id", cap)
    # per-cell duplicate detection as a blocked numpy GRAM MATRIX
    # inside applyInPandas — the canonical SemDeDup shape (Abbas et
    # al. compute per-cluster pairwise cosines as matrix products).
    # The earlier cell SELF-JOIN scored each pair with interpreted
    # higher-order-function folds: at ~64-member cells that is
    # O(n * cell * dim) interpreted ops and measured ~3s of the s4
    # certification at sf0.1; one X @ X.T per cell replaces it with
    # vectorized BLAS and shuffles the vectors ONCE (by cell) instead
    # of twice (both join sides). Blocked at 1024 rows so the worst
    # cap-sized cell peaks at ~32 MB of scores. ULP-level sum-order
    # drift vs the expression fold cannot flip results: callers
    # threshold with wide margins by construction (near-dup pairs sit
    # at cosine ~1, i.i.d. background far below any sane threshold).
    # NOTE: the UDF closure is self-contained (numpy + threshold
    # literal only, no package symbols) so it runs on workers that
    # cannot import this package.
    id_type = df.schema[id_col].dataType.simpleString()
    thr = float(threshold)

    def _cell_keepers(pdf):
        import numpy as np
        import pandas as pd

        out_i: list = []
        out_k: list = []
        ids_all = pdf["_id"].to_numpy()
        vecs = pdf["_v"].to_numpy()
        # Degenerate-vector contract (matches the expression form it
        # replaced, minus one quirk): rows are GROUPED BY LENGTH
        # before the Gram product — a ragged pair's cosine is NULL
        # under zip_with, i.e. never similar, and same-length
        # grouping reproduces that exactly while keeping np.asarray
        # rectangular (a mixed-length asarray builds an object array
        # and crashes the matmul). Non-finite vectors (NaN/inf
        # element) are DROPPED from the matrix: their cosine is
        # undefined, so they are never pruned and never serve as
        # keepers — they re-enter as kept rows through the caller's
        # left join. (The old expression path pruned NaN rows only
        # because Spark orders NaN above every threshold — a
        # comparison quirk, not a semantic we preserve.)
        lens = np.fromiter((len(v) for v in vecs), dtype=np.int64, count=len(vecs))
        for L in np.unique(lens):
            sub = np.flatnonzero(lens == L)
            if len(sub) < 2:
                continue
            X = np.asarray([np.asarray(vecs[i], dtype=np.float64) for i in sub])
            finite = np.isfinite(X).all(axis=1)
            sub, X = sub[finite], X[finite]
            n = len(sub)
            if n < 2:
                continue
            ids = ids_all[sub]
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            X = X[order]
            norms = np.sqrt((X * X).sum(axis=1))
            B = 1024
            for s in range(1, n, B):
                e = min(s + B, n)
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = (X[s:e] @ X[:e].T) / np.outer(norms[s:e], norms[:e])
                rows_abs = np.arange(s, e)
                # only j < i (strictly lower id) may be a keeper
                mask = (S >= thr) & (np.arange(e)[None, :] < rows_abs[:, None])
                hit = mask.any(axis=1)
                first = mask.argmax(axis=1)  # first True = lowest id, sorted
                out_i.extend(ids[rows_abs[hit]])
                out_k.extend(ids[first[hit]])
        if not out_i:
            return pd.DataFrame({"_ida": pdf["_id"][:0], "keeper_id": pdf["_id"][:0]})
        return pd.DataFrame({"_ida": out_i, "keeper_id": out_k})

    keepers = tagged.groupBy("cluster", "sub_bucket").applyInPandas(
        _cell_keepers, schema=f"_ida {id_type}, keeper_id {id_type}"
    )
    return (
        df.select(F.col(id_col))
        .join(keepers.withColumnRenamed("_ida", id_col), id_col, "left")
        .select(
            id_col,
            "keeper_id",
            F.col("keeper_id").isNotNull().cast("long").alias("pruned"),
        )
    )
