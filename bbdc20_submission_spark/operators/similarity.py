"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline (broadcast the
query set, one narrow pass over the corpus, per-query top-k via window
rank). The scale path is LSH bucketing (random-hyperplane signs) that
prunes the corpus before the exact re-rank — the standard
recall/throughput trade at 100 TB.

Dot products use F.zip_with + F.aggregate: JVM-side, no Python.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bbdc20_submission_spark.caching import managed_persist


def dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of the double-precision dot product (elementwise
    product + left-fold sum) of two array-SQL fragments.

    The r13 build-cost form: every Python-lambda HOF costs ~20-40 ms
    of py4j round trips to assemble (measured — `_create_lambda` is
    2-4 JVM calls per lambda plus per-literal traffic), while a SQL
    string is ONE parse call."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def l2_norm_sql(a_sql: str) -> str:
    """SQL text of the L2 norm of an array-SQL fragment (see
    :func:`dot_sql` for why the string form exists)."""
    return (
        f"sqrt(aggregate(transform({a_sql}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v))"
    )


def cosine_sql(a_sql: str, b_sql: str, na_sql: str, nb_sql: str) -> str:
    """SQL text of the cosine of two array-SQL fragments given their
    norm fragments (callers fold each norm once per ROW, not per pair).

    Zero-safe: ``try_divide`` makes the cosine of a zero-norm vector
    NULL where a plain ``/`` raises ``DIVIDE_BY_ZERO`` under Spark 4's
    ANSI mode. An undefined cosine is never a near-dup (``>= t`` is not
    true) and ranks after every defined score in a descending top-k
    (NULLS LAST); non-zero norms give the same double as ``/``."""
    return f"try_divide({dot_sql(a_sql, b_sql)}, {na_sql} * {nb_sql})"


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries is broadcast (small by contract); the corpus is scanned
    once; rank ties break on corpus id (deterministic).
    Output: [query_id, match_id, cosine_sim, rank].

    Norms are computed ONCE per row in each side's projection instead
    of inline per pair (r12): the inline form re-evaluated both
    l2_norm higher-order folds for every (query, corpus) pair — 3 HOF
    aggregates per pair where only the dot product actually varies.
    Bit-identical (same fold over the same values in the same order,
    then the same _qn * _cn product) — the oracle-certified families
    pin that. Expressions ride SQL strings (r13 build sweep — see
    dot_sql). A zero-norm vector's cosine is NULL (see cosine_sql)."""
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"`{vec_col}` AS _qv",
        f"{l2_norm_sql(f'`{vec_col}`')} AS _qn",
    )
    c = corpus.selectExpr(
        f"`{id_col}` AS match_id",
        f"`{vec_col}` AS _cv",
        f"{l2_norm_sql(f'`{vec_col}`')} AS _cn",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
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
            "query_id",
            "match_id",
            F.round("_sim", 6).alias("cosine_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG;
    no numpy state, reproducible across runs/machines)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            v.append((state / float(1 << 64)) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket_signature(
    vec: str, dim: int, n_planes: int = 16, seed: int = 7
) -> Column:
    """Random-hyperplane sign signature -> long bucket id. Vectors with
    small angles agree on most signs, so equal buckets concentrate
    near neighbors.

    Built as ONE generated SQL expression parsed JVM-side: the naive
    Column-API construction (n_planes nested zip_with/aggregate trees
    over ``dim`` literal weights) costs thousands of py4j round trips
    and dominated wall time (~5 s of pure driver-side plan BUILDING
    for 32 planes, measured). The SQL string is identical arithmetic —
    sequential left-fold dot product in double — so certified sign
    buckets (s2's literal-hyperplane oracle) are unchanged.

    ``vec`` must be a plain column NAME (str) so it can be referenced
    from the generated SQL — a computed/aliased Column has no stable
    identifier and would fail far from this call site."""
    if not isinstance(vec, str):
        raise ValueError(
            "lsh_bucket_signature requires a plain column name (str); "
            f"got {type(vec).__name__} — alias the expression to a "
            "column first, then pass its name"
        )
    name = vec
    planes = _hyperplanes(dim, n_planes, seed)
    terms = []
    for i, p in enumerate(planes):
        weights = ", ".join(repr(x) + "D" for x in p)
        d_expr = (
            f"aggregate(zip_with(`{name}`, array({weights}), "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
        )
        terms.append(
            f"(CASE WHEN {d_expr} > 0 THEN {1 << i}L ELSE 0L END)"
        )
    return F.expr("(" + " + ".join(terms) + ")").cast("long")


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: exact re-rank restricted to the query's LSH
    bucket. At 100 TB the bucket equi-join replaces the full cross
    product — this is the scale path.

    ``multiprobe=True`` additionally probes every bucket at Hamming
    distance 1 from the query's signature (flip each of the n_planes
    sign bits): near neighbors that disagree with the query on exactly
    one hyperplane — the dominant miss mode — become candidates, so
    recall rises steeply for (n_planes + 1)x more QUERY rows in the
    join (the corpus side, which dominates at scale, is untouched;
    this is why multi-probe beats adding tables when queries are few)."""
    sig = lsh_bucket_signature(vec_col, dim, n_planes)
    # norms fold ONCE per row on each side of the join (r13 HOF-pass
    # sweep): the inline cosine() re-ran both l2_norm folds for every
    # candidate PAIR — 6 interpreted HOF passes per pair where only
    # the dot product varies. Bit-identical (same fold over the same
    # values, then the same _qn * _cn product — the r12
    # cosine_topk_bruteforce precedent); per-row projections below a
    # join are never re-inlined above it.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.expr(l2_norm_sql(f"`{vec_col}`")).alias("_qn"),
        sig.alias("_sig0"),
    )
    if multiprobe:
        probes = F.array(
            F.col("_sig0"),
            *[
                F.col("_sig0").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(n_planes)
            ],
        )
        q = q.select(
            "query_id", "_qv", "_qn", F.explode(probes).alias("_bucket")
        )
    else:
        q = q.withColumnRenamed("_sig0", "_bucket")
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("_cv"),
        F.expr(l2_norm_sql(f"`{vec_col}`")).alias("_cn"),
        sig.alias("_bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col("match_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "match_id",
            f"{cosine_sql('_qv', '_cv', '_qn', '_cn')} AS _sim",
        )
    )
    if multiprobe:
        # a pair found via several probed buckets scores identically —
        # dedup before ranking so row_number stays a permutation
        scored = scored.distinct()
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "match_id",
            F.round("_sim", 6).alias("cosine_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "embedding_q",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = round(x_i / s),
    s = max|x| / 127. Adds [out_col: array<tinyint>, {out_col}_scale:
    double]. 4x smaller than float32 (8x vs the double it would widen
    to) — at 100 TB of embeddings the working set for ANN search is
    usually memory-bound, and int8 dot products lose ~0.1% cosine
    accuracy on unit-norm-ish vectors (bounded by 1/254 per component).
    Pure array expressions, narrow, no shuffle.

    The abs-max rides its OWN projected column (r13): inlined, the
    CASE WHEN scale evaluates the array_max fold twice per row (both
    the condition and the value arm — interpreted HOFs have no CSE);
    as a column referenced twice by the scale expression, Catalyst's
    CollapseProject keeps it a real once-per-row Project (it only
    inlines non-cheap producers referenced at most once). Same values
    bit-for-bit.

    The column is also the structural guard against the r12 O(dim^2)
    trap: previously a caller select that dropped the scale left its
    only reference inside the quantize lambda — projection collapse
    then inlined the whole abs-max subtree there and the per-ELEMENT
    evaluation made row prep O(dim^2) with no physical-plan tell
    (measured 3.8 -> 64 s on 128k vectors). Now collapse can at worst
    inline the cheap CASE over the amax ATTRIBUTE into the lambda;
    the fold itself stays a once-per-row Project because the CASE
    references it twice (pinned by
    tests/test_plan_quality.py::test_quantize_amax_folds_once_per_row)."""
    amax_col = f"{out_col}_amax"
    # SQL-string forms (r13 build sweep): sameSemantics-identical to
    # the previous Column/lambda trees — the amax still rides its own
    # projected column, referenced twice by the CASE, so the collapse
    # guard documented above is structurally unchanged.
    return (
        df.withColumn(
            amax_col,
            F.expr(
                f"array_max(transform(`{vec_col}`, "
                "x -> abs(CAST(x AS DOUBLE))))"
            ),
        )
        .withColumn(
            f"{out_col}_scale",
            F.expr(
                f"CASE WHEN `{amax_col}` > 0 THEN `{amax_col}` / 127.0D "
                "ELSE 1.0D END"
            ),
        )
        .withColumn(
            out_col,
            F.expr(
                f"transform(`{vec_col}`, x -> CAST(round("
                f"CAST(x AS DOUBLE) / `{out_col}_scale`) AS TINYINT))"
            ),
        )
        .drop(amax_col)
    )


def dequantize_cosine(qa: str, qb: str) -> Column:
    """Cosine over two int8-quantized vector columns (NAMES). The
    per-vector scales cancel in cosine (it is scale-invariant), so this
    is integer dot products in double accumulation; NULL when either
    vector is all zeros."""
    a, b = f"`{qa}`", f"`{qb}`"
    return F.expr(cosine_sql(a, b, l2_norm_sql(a), l2_norm_sql(b)))


# embedding_near_dups' sizing and guard constants. Expected bucket
# occupancy the "auto" signature sizes planes for:
_TARGET_OCCUPANCY = 8
# ceiling on the bands auto-sizing may derive:
_MAX_BANDS = 32
# exact candidate volume past which the plan-time guard warns: each
# candidate eval is a dim-wide interpreted fold (~dim multiply-adds),
# so 5e7 is ~minutes of single-node work.
_CANDIDATE_PAIR_BUDGET = 50_000_000


def auto_lsh_signature(
    n: int, threshold: float, base_planes: int, base_bands: int
) -> tuple[int, int]:
    """Size a sign-LSH signature for a corpus of ``n`` vectors:
    planes grow to ``log2(n / _TARGET_OCCUPANCY)`` (expected bucket
    occupancy is ``n / 2^planes`` on i.i.d. data, so the self-join
    candidate volume ~``bands * n^2 / 2^planes`` stays ~linear in n
    at fixed occupancy), and bands grow to hold the BASE config's
    per-pair recall at the threshold angle: with per-plane agreement
    p = 1 - acos(threshold)/pi, recall is 1-(1-p^planes)^bands, so
    bands = ceil(log(1-R0)/log(1-p^planes)) restores the base R0.
    Returns (planes, bands); never shrinks below the base config and
    never exceeds ``_MAX_BANDS`` bands.
    This is the r12 `s3_planes_scaled` sizing (14 planes x 8 bands at
    128k vectors, planted recall 8/8, 4.3x wall at 64x where the
    fixed 8-plane config read 52.2x — SCALING.md) expressed as a rule."""
    planes = max(
        base_planes, math.ceil(math.log2(max(n, 1) / _TARGET_OCCUPANCY))
    )
    if planes == base_planes:
        return base_planes, base_bands
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    r0 = 1.0 - (1.0 - p**base_planes) ** base_bands
    per_band = 1.0 - p**planes
    if r0 >= 1.0 or per_band <= 0.0:
        bands = base_bands
    elif per_band >= 1.0:
        bands = _MAX_BANDS
    else:
        bands = math.ceil(math.log(1.0 - r0) / math.log(per_band))
    return planes, min(max(bands, base_bands), _MAX_BANDS)


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | str = 12,
    dim: int = 64,
    n_bands: int = 1,
    bucket_cap: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded LSH bucket
    self-join + exact verify — the embedding-space analog of MinHash
    dedup (SURVEY LLM-data family).

    ``n_bands`` independent sign-LSH tables of ``n_planes`` planes
    each (per-band hyperplane seeds): a pair is a candidate if it
    collides in ANY band, so recall amplifies as
    1 - (1 - p^n_planes)^n_bands with p = 1 - angle/pi per plane —
    the standard OR-of-ANDs construction. More bands -> higher recall
    at linear candidate-generation cost; the exact cosine verify keeps
    precision at 1 regardless. The join stays a (band, signature) hash
    equi-join — no cross product at any scale; band duplicates are
    collapsed by the final distinct on the narrow (id, id, sim)
    projection, so vectors are never shuffled twice. A pair with a
    zero-norm vector has no cosine (NULL) and is never a near-dup.

    ``bucket_cap`` (r12): the signature space is only ``2^n_planes``
    buckets per band, so bucket occupancy — and with it the self-join
    candidate volume, ~``n^2 * n_bands / 2^n_planes`` — grows with the
    corpus no matter how clean the data is; a mass-duplicated family
    concentrates it further. Buckets past the cap are sub-split with
    the same bounded machinery as the text/hamming dedup paths: one
    bucket-salted sub per row on the index side, up to
    ``dedup._BOUNDED_PROBE_ROUNDS`` (4) round-salted subs on the probe
    side (pair retention ~``1-(1-rounds/m)^k`` over k shared bands),
    plus COSINE-VERIFIED chain edges (``dedup._chain_edges``) so a
    capped dup family stays one connected component. With no bucket
    past the cap — every certified SF (sf0.1: ~8 members vs 1024), or
    any cap above the corpus size — the plan is the plain banded
    self-join, every pair exact.

    Plan-time guard (r13, the hamming auto-guard pattern): one
    aggregate job over the persisted signature frame
    (``dedup._collect_hot_dim``) yields the EXACT candidate volume
    ``sum(bn^2)`` and the hot dim, replayed as a local relation. The
    operator warns when the volume exceeds ``_CANDIDATE_PAIR_BUDGET``
    (5e7 dim-wide folds) — the sub-cap occupancy hump the r12 64x
    ladder measured at 52.2x for an undersized 8-plane signature — and
    whenever ANY bucket exceeds the cap, because the bounded sub-split
    changes pair recall there.

    ``n_planes="auto"`` (r13): size the signature at plan time from
    ``n = df.count()`` via :func:`auto_lsh_signature` — planes to
    ``log2(n / _TARGET_OCCUPANCY)`` and bands re-derived to hold the
    base (``12 x n_bands``) config's recall at the threshold angle.
    The structural fix for occupancy growth on CLEAN corpora (the cap
    is the safety bound for the skewed tail, not a substitute for
    sizing the signature); auto-sizing changes candidate RECALL
    bounds, never precision (the exact cosine verify filters every
    candidate), and leaves the certified small-SF configs unchanged
    (n below 2^12 * 8 keeps the base signature)."""
    from bbdc20_submission_spark.operators.dedup import (
        _BOUNDED_PROBE_ROUNDS,
        _apply_sub_buckets,
        _chain_edges,
        _collect_hot_dim,
        _multi_sub_buckets,
    )

    if n_planes == "auto":
        n_planes, n_bands = auto_lsh_signature(
            df.count(), threshold, 12, n_bands
        )
    sigs = F.array(
        *[
            lsh_bucket_signature(vec_col, dim, n_planes, seed=7 + b)
            for b in range(n_bands)
        ]
    )
    # persist: the signature expressions (n_bands * n_planes
    # higher-order-function dot products per vector) are the expensive
    # narrow stage, and BOTH self-join sides read this frame — without
    # the persist they are computed twice. Leftover blocks are cleared
    # by the registry wrapper at the next query build.
    # the norm rides the persisted frame (r12): the exact-cosine
    # verify then pays one dot product per candidate pair instead of
    # re-folding both norms pair-by-pair — bit-identical arithmetic
    # (same fold per vector, same product), certified by the s3
    # oracle
    tagged = managed_persist(
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.expr(l2_norm_sql(f"`{vec_col}`")).alias("_n"),
            F.posexplode(sigs).alias("_band", "_sig"),
        )
    )
    cols = ["_band", "_sig"]
    import warnings

    hot, hot_rows, est_pairs = _collect_hot_dim(tagged, cols, bucket_cap)
    if est_pairs > _CANDIDATE_PAIR_BUDGET:
        warnings.warn(
            "embedding_near_dups: exact candidate volume "
            f"~{est_pairs:.2e} pair evals (each a {dim}-wide "
            "interpreted fold) exceeds _CANDIDATE_PAIR_BUDGET="
            f"{_CANDIDATE_PAIR_BUDGET:.0e} — the {n_planes}-plane "
            "signature is undersized for this corpus (expected "
            "occupancy ~n/2^planes per band). Pass n_planes='auto' "
            "to size planes to log2(n/_TARGET_OCCUPANCY) with bands "
            "re-derived to hold recall, or raise n_planes manually; "
            "bucket_cap bounds the worst-case skewed tail but does "
            "not remove the sub-cap occupancy term.",
            UserWarning,
            stacklevel=2,
        )
    if hot_rows:
        warnings.warn(
            f"embedding_near_dups: {len(hot_rows)} bucket(s) exceed "
            f"bucket_cap={bucket_cap} — the bounded sub-split plan "
            "engages there (pair recall ~1-(1-rounds/m)^bands within "
            "those buckets; family connectivity preserved via "
            "cosine-verified chain edges). Pass a bucket_cap above "
            "the largest bucket for the exact self-join regardless "
            "of cost.",
            UserWarning,
            stacklevel=2,
        )
        idx = _apply_sub_buckets(
            tagged, hot, cols, "_id", bucket_cap, salt_cols=("_band", "_sig")
        )
        prb = _multi_sub_buckets(
            tagged,
            hot,
            cols,
            "_id",
            bucket_cap,
            _BOUNDED_PROBE_ROUNDS,
            salt_cols=("_band", "_sig"),
        )
        join_keys = [*cols, "sub_bucket"]
    else:
        # no hot buckets: the capped plan would assign sub_bucket=0
        # everywhere and the chain stages are no-ops over zero rows —
        # build the plain banded self-join instead (identical output,
        # two fewer broadcast joins and no window stage at every
        # certified SF)
        idx = prb = tagged
        join_keys = cols
    a = idx.select(
        F.col("_id").alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
        *join_keys,
    )
    b = prb.select(
        F.col("_id").alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
        *join_keys,
    )
    pairs = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "_sim",
            F.expr(cosine_sql("_va", "_vb", "_na", "_nb")),
        )
        # filter on the UNROUNDED cosine (matches a `WHERE cos >= t`
        # oracle at the threshold boundary), round only for output
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", F.round("_sim", 6).alias("cosine_sim"))
    )
    if not hot_rows:
        return pairs.distinct()
    # chain edges verified at the SAME cosine threshold, so only true
    # pairs are added and the output contract holds
    chain = (
        _chain_edges(idx, hot, cols, "_v")
        .withColumn(
            "_sim",
            F.expr(
                cosine_sql("_pa", "_pb", l2_norm_sql("_pa"), l2_norm_sql("_pb"))
            ),
        )
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", F.round("_sim", 6).alias("cosine_sim"))
    )
    return pairs.unionByName(chain).distinct()


def random_projection(
    vec: str, in_dim: int, out_dim: int, seed: int = 7
) -> Column:
    """Johnson-Lindenstrauss random projection: ``out_dim`` dot
    products against deterministic unit hyperplanes (the same portable
    LCG generator as the LSH planes, so any engine reproduces the
    projected vectors bit-for-bit). The standard shrink step before
    ANN/storage at scale — cosine structure is approximately preserved
    while the working set drops by in_dim/out_dim.

    Returns an ``array<double>`` Column. Built as ONE generated SQL
    expression for the same plan-build-cost reason as
    ``lsh_bucket_signature`` (see there); ``vec`` must be a plain
    column NAME."""
    if not isinstance(vec, str):
        raise ValueError(
            "random_projection requires a plain column name (str); "
            f"got {type(vec).__name__} — alias the expression to a "
            "column first, then pass its name"
        )
    planes = _hyperplanes(in_dim, out_dim, seed)
    dots = []
    for p in planes:
        weights = ", ".join(repr(x) + "D" for x in p)
        dots.append(
            f"aggregate(zip_with(`{vec}`, array({weights}), "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
        )
    return F.expr("array(%s)" % ", ".join(dots))


def random_projection_sql(
    vec_expr: str, in_dim: int, out_dim: int, seed: int = 7
) -> str:
    """DuckDB expression reproducing ``random_projection`` BIT-FOR-BIT:
    per plane, elementwise products in index order folded left with a
    0.0 seed — the exact operation sequence of Spark's
    ``aggregate(zip_with(...))``. (``list_dot_product`` is NOT used:
    it sums in a different order and drifts by 1 ulp, measured on the
    harness embeddings.)"""
    planes = _hyperplanes(in_dim, out_dim, seed)
    dots = []
    for p in planes:
        # NOTE each weight rides as a QUOTED-string cast: DuckDB parses
        # a bare decimal literal as DECIMAL (max ~18 significant digits)
        # before any cast, double-rounding the value; the string->DOUBLE
        # parse is the correctly-rounded shortest-repr round trip.
        w = "[" + ", ".join(f"'{x!r}'::DOUBLE" for x in p) + "]"
        dots.append(
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {in_dim}), "
            f"i -> CAST(({vec_expr})[i] AS DOUBLE) * ({w})[i])), "
            "(acc, x) -> acc + x)"
        )
    return "[" + ", ".join(dots) + "]"


class ProductQuantizer:
    """A fitted product quantizer: ``codebooks`` is an (m, ksub, dsub)
    float64 ndarray — m independent sub-space codebooks over equal
    slices of the vector. The IVF-PQ compression stage of large-scale
    ANN: a dim-float vector compresses to m small codes (m bytes at
    ksub<=256), cutting index storage/IO by ~dim*4/m while ADC scoring
    stays a table lookup per block.

    ``save``/``load`` persist to JSON with exact double round-trip —
    the fit-once / encode-everywhere artifact (same contract as
    ``clustering.CentroidQuantizer``)."""

    def __init__(self, codebooks) -> None:
        import numpy as np

        self.codebooks = np.asarray(codebooks, dtype=np.float64)

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ksub(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    def save(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump({"codebooks": self.codebooks.tolist()}, fh)

    @classmethod
    def load(cls, path: str) -> "ProductQuantizer":
        import json

        with open(path) as fh:
            return cls(json.load(fh)["codebooks"])


def fit_pq(
    df: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    sample_cap: int | None = None,
    approx_n: int | None = None,
) -> ProductQuantizer:
    """Train a product quantizer on a bounded deterministic corpus
    sample: the vector is split into ``m`` equal ``dim/m`` slices and
    each slice gets its own seeded k-means codebook (k-means++ +
    Lloyd's, numpy — the same fit machinery as the coarse quantizer;
    sub-problems are tiny so the driver fit is the right shape, with
    the sample bounded exactly like ``clustering.fit_quantizer``)."""
    from bbdc20_submission_spark.operators.clustering import (
        _DEFAULT_SAMPLE_CAP,
        _deterministic_head,
        _lloyd,
    )
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    if ksub > 32:
        raise ValueError(
            f"ksub={ksub} > 32: the codegen argmin expression path is "
            "capped at 32 codes per block (use more blocks instead)"
        )
    cap = sample_cap if sample_cap is not None else _DEFAULT_SAMPLE_CAP
    fit_on = df
    if approx_n is not None and approx_n > 4 * cap:
        fit_on = df.sample(False, 4 * cap / approx_n, seed + 1)
    rows = _deterministic_head(
        fit_on.select(F.col(vec_col).cast("array<double>").alias("_v")), cap
    ).collect()
    X = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    if X.shape[0] == 0 or X.shape[1] != dim:
        raise ValueError(f"sample shape {X.shape} does not match dim={dim}")
    dsub = dim // m
    books = [
        _lloyd(X[:, b * dsub : (b + 1) * dsub], ksub, seed + b, max_iter)
        for b in range(m)
    ]
    return ProductQuantizer(books)


def pq_encode(
    df: DataFrame,
    pq: ProductQuantizer,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to their per-block nearest-codeword indices —
    ``out_col`` is an array<int> of length m. ONE narrow projection
    (the codebooks ride the plan as literals; ksub<=32 keeps each
    block's argmin inside whole-stage codegen like the coarse
    assignment path), so encoding 100 TB is a map over splits with no
    side input and no shuffle. Ties break to the lowest code
    (array_position returns the first match)."""
    # ONE generated SQL expression (r13 build sweep): the previous
    # Column/lambda form assembled m * ksub aggregate(zip_with(...))
    # trees with per-literal py4j traffic — ~1 s of driver build time
    # at m=4, ksub=16 — while the parsed string is sameSemantics-
    # identical (same slice/zip_with/fold trees, same double literals
    # via repr round-trip).
    from bbdc20_submission_spark.operators.clustering import (
        _sql_double_array,
    )

    v_sql = f"CAST(`{vec_col}` AS array<double>)"
    dsub, codes = pq.dsub, []
    for b in range(pq.m):
        sub = f"slice({v_sql}, {b * dsub + 1}, {dsub})"
        dists = "array(%s)" % ",".join(
            f"aggregate(zip_with({sub}, {_sql_double_array(c)}, "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, val) -> acc + val)"
            for c in pq.codebooks[b].tolist()
        )
        codes.append(
            f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
        )
    return df.withColumn(out_col, F.expr("array(%s)" % ",".join(codes)))


def pq_topk_adc(
    codes: DataFrame,
    queries: list[tuple[int, list[float]]],
    pq: ProductQuantizer,
    k: int = 3,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: for each query the driver
    precomputes the m x ksub table of squared distances from the
    query's sub-vectors to every codeword; the corpus-side score is
    then ``sum_b table[b][code_b]`` — a pure table lookup per block,
    no vector arithmetic against the corpus at all (the reason PQ
    scans are memory-bandwidth-bound, not FLOP-bound, at scale).

    The query set (with tables) is a broadcast dim; per-query top-k is
    the standard window rank. Output: [query_id, id_col, adc_dist,
    rank]. Deterministic: ties break on the corpus id."""
    import numpy as np

    spark = codes.sparkSession
    dsub = pq.dsub
    qrows = []
    for qid, vec in queries:
        q = np.asarray(vec, dtype=np.float64)
        if q.shape[0] != pq.m * dsub:
            raise ValueError(f"query {qid} has dim {q.shape[0]}")
        table = [
            [
                float(((q[b * dsub : (b + 1) * dsub] - c) ** 2).sum())
                for c in pq.codebooks[b]
            ]
            for b in range(pq.m)
        ]
        qrows.append((qid, table))
    qdf = spark.createDataFrame(
        qrows, "query_id long, _table array<array<double>>"
    )
    scored = codes.crossJoin(F.broadcast(qdf)).selectExpr(
        "query_id",
        f"`{id_col}`",
        f"aggregate(zip_with(`{code_col}`, _table, "
        "(c, t) -> element_at(t, c + 1)), 0.0D, "
        "(acc, val) -> acc + val) AS adc_dist",
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_encode(
    df: DataFrame,
    model,
    pq: ProductQuantizer,
    vec_col: str = "embedding",
    cell_col: str = "cell",
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF-PQ index build: assign each vector to its coarse cell
    (``model`` is a fitted ``clustering.CentroidQuantizer``) and
    PQ-encode the RESIDUAL ``v - center[cell]`` — the classic IVF-PQ
    layout (residuals are far better centered than raw vectors, so the
    same codebook budget buys much lower distortion).

    One narrow pass end to end: cell assignment, the per-row centroid
    lookup (centers ride as a literal array-of-arrays), the residual
    subtraction, and the per-block code argmins all fuse into a single
    codegen projection — at 100 TB the index build is a map over
    splits with no shuffle."""
    from bbdc20_submission_spark.operators.clustering import _with_cluster

    from bbdc20_submission_spark.operators.clustering import (
        _sql_double_array,
    )

    centers = model.centers
    out = _with_cluster(df, centers, vec_col, out_col=cell_col)
    centers_sql = "array(%s)" % ",".join(
        _sql_double_array(c) for c in centers.tolist()
    )
    residual = F.expr(
        f"zip_with(CAST(`{vec_col}` AS array<double>), "
        f"element_at({centers_sql}, CAST(`{cell_col}` + 1 AS INT)), "
        "(x, c) -> x - c)"
    )
    out = out.withColumn("_res", residual)
    out = pq_encode(out, pq, vec_col="_res", out_col=code_col)
    return out.drop("_res")


def ivfpq_topk(
    index: DataFrame,
    queries: list[tuple[int, list[float]]],
    model,
    pq: ProductQuantizer,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF-PQ search: probe each query's ``nprobe`` nearest cells and
    ADC-score ONLY those cells' members, with the distance table built
    per (query, cell) from the query's residual against that cell —
    the composition that makes billion-vector search tractable
    (candidate set ~ nprobe/k of the corpus, scoring a table lookup).

    The (query, cell, table) dim is driver-built (queries x nprobe
    rows — bounded) and broadcast into a cell equi-join against the
    index; vectors themselves never move or shuffle. Output:
    [query_id, id_col, adc_dist, rank]; ties on the corpus id."""
    import numpy as np

    spark = index.sparkSession
    centers = model.centers
    dsub = pq.dsub
    qrows = []
    for qid, vec in queries:
        q = np.asarray(vec, dtype=np.float64)
        d2 = ((centers - q[None, :]) ** 2).sum(axis=1)
        for cell in np.argsort(d2, kind="stable")[:nprobe]:
            r = q - centers[cell]
            table = [
                [
                    float(((r[b * dsub : (b + 1) * dsub] - c) ** 2).sum())
                    for c in pq.codebooks[b]
                ]
                for b in range(pq.m)
            ]
            qrows.append((qid, int(cell), table))
    qdf = spark.createDataFrame(
        qrows, f"query_id long, {cell_col} long, _table array<array<double>>"
    )
    scored = index.join(F.broadcast(qdf), cell_col).selectExpr(
        "query_id",
        f"`{id_col}`",
        f"aggregate(zip_with(`{code_col}`, _table, "
        "(c, t) -> element_at(t, c + 1)), 0.0D, "
        "(acc, val) -> acc + val) AS adc_dist",
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
