"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard — each
designed for the 100 TB case:

- exact: one shuffle on a 128-bit content hash (never on the text);
- MinHash/LSH: signatures are fixed-width arrays computed in a single
  narrow pass (xxhash64 per seed, JVM-side); candidate generation is
  an equi-join on (band, band-hash) buckets — no N^2 comparison;
- SimHash: 64-bit fingerprint via bit-vote aggregation over token
  hashes; near-dup candidates via band equality on bit slices;
- verification joins only candidate pairs back to token sets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bbdc20_submission_spark.caching import managed_persist
from bbdc20_submission_spark.operators.text import _ws_tokens_sql, ws_tokens


def _cap_buckets(
    banded: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    cap: int,
    salt_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Bound LSH bucket self-join fanout: buckets above ``cap`` members
    are split into ceil(n/cap) deterministic sub-buckets (hash of the
    id), so within-bucket pair generation is O(n * cap) instead of
    O(n^2).

    A boilerplate-heavy corpus at 100 TB produces hot buckets whose
    quadratic self-join would dominate the stage; members of such a
    bucket are near-total duplicates of each other, so intra-sub-bucket
    pairs retain enough edges for downstream clustering (each sub-
    bucket still connects its members; cross-sub edges are the ones
    sacrificed). Buckets at or under ``cap`` are untouched — at the
    test SFs every bucket is, so certified outputs are unchanged.

    Implemented as a partial-aggregated bucket count filtered to the
    over-cap buckets and broadcast back — on a healthy corpus that dim
    is empty, so the hot path costs one broadcast of nothing instead
    of a per-row window sort.

    ``salt_cols``: forwarded to :func:`_apply_sub_buckets` — pass the
    bucket key on MULTI-band schemes so each band samples pairs
    independently (r12); single-band callers (cell pruning on
    ``cluster``) gain nothing from it and stay unsalted."""
    hot = _hot_buckets(banded, bucket_cols, cap)
    return _apply_sub_buckets(
        banded, hot, bucket_cols, id_col, cap, salt_cols=salt_cols
    )


def _hot_buckets(frame: DataFrame, bucket_cols: list[str], cap: int) -> DataFrame:
    """Buckets of ``frame`` with more than ``cap`` members (their
    member counts attached). Broadcast-sized by construction."""
    return (
        frame.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > cap)
    )


# The bounded hot-bucket plan's constants, shared by the three LSH
# self-joins (minhash_lsh_candidates, hamming_near_pairs,
# similarity.embedding_near_dups). Probe-side sub assignments per row:
# 4 bounds the probe fanout at 4x (vs m-fold for the exact explosion)
# while lifting per-band retention from ~1/m to ~4/m (SCALING.md,
# d9_auto_guard row).
_BOUNDED_PROBE_ROUNDS = 4
# hamming_near_pairs' auto-mode ceiling in estimated pair evaluations:
# ~a few seconds of vectorized SWAR popcounts on a 32-core executor
# wave; past it the quadratic term dominates wall.
_EXACT_PAIR_BUDGET = 1_000_000_000


def _sub_count_sql(cap: int) -> str:
    """SQL of ``m = ceil(_bn / cap)``: the subs a hot bucket of ``_bn``
    members splits into (NULL for rows off the hot dim)."""
    return f"CAST(ceil(_bn / {cap}) AS BIGINT)"


def _sub_count(cap: int) -> Column:
    """:func:`_sub_count_sql` with non-hot rows (``_bn`` NULL) at 1."""
    return F.expr(
        f"CASE WHEN _bn IS NOT NULL THEN {_sub_count_sql(cap)} ELSE 1 END"
    )


def _collect_hot_dim(
    frame: DataFrame, bucket_cols: list[str], cap: int
) -> tuple[DataFrame, list, int]:
    """Collect the hot-bucket dim in ONE aggregate job: returns the hot
    dim replayed as a local relation, its rows (bucket keys + ``_bn``)
    and ``sum(_bn^2)`` over ALL buckets — the exact self-join candidate
    volume. ``collect_list`` skips nulls, so the filtered struct list
    IS the hot dim — bounded, since a bucket is hot only past ``cap``
    members (at most rows/cap entries). The local relation then
    REPLACES every plan-side recomputation of the hot agg, so a
    caller's guard costs this one job instead of adding to the plan."""
    occ = frame.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("_bn"))
    guard = occ.agg(
        F.sum(F.col("_bn") * F.col("_bn")).alias("_v"),
        F.collect_list(
            F.when(F.col("_bn") > cap, F.struct(*bucket_cols, "_bn"))
        ).alias("_hot"),
    ).first()
    rows = list(guard["_hot"])
    hot = frame.sparkSession.createDataFrame(rows, occ.schema)
    return hot, rows, int(guard["_v"] or 0)


def _chain_edges(
    index: DataFrame,
    hot: DataFrame,
    bucket_cols: list[str],
    payload: str | None = None,
) -> DataFrame:
    """Chain edges across a hot bucket's subs: ``[id_a, id_b]`` with
    ``id_a < id_b`` (plus ``_pa``/``_pb``, the ``payload`` column of
    ``id_a``/``id_b``, when one is named) over an index-side frame
    ``[_id, sub_bucket, *bucket_cols, payload?]``.

    Sub-splitting compares pairs only WITHIN a sub. Even with the
    bucket-salted assignment making each band's split independent,
    WITHIN any one band a capped dup family is partitioned into
    ``m = ceil(n/cap)`` disconnected subs; downstream keep-one-per-
    family clustering would then keep up to m representatives of one
    family unless the ~rounds/m cross-sub sampling of some band
    happens to link every fragment. Each sub contributes TWO
    representatives (its min- and max-id members) and consecutive
    subs are linked through all four rep-pair edges (+4(m-1) edges
    per hot bucket). Each caller verifies the edges like any
    candidate: MinHash lets them ride its jaccard verify, the hamming
    and embedding joins check the exact distance / cosine against
    the payloads, so only true pairs are added.

    HEURISTIC, not a guarantee: in a MIXED hot bucket (a dup family
    sharing its bucket with unrelated collision docs) an edge
    anchored on a collision rep fails the verify, so the family
    reconnects only if, for every consecutive sub pair, at least one
    of the four rep edges joins two family members. Two reps per sub
    square the per-link failure odds vs one (a collision doc must
    hold BOTH extremes of a sub's id range) — the cheap end of the
    tradeoff; the exact alternative (explode one side across subs,
    ``hamming_near_pairs(exact_hot_buckets=True)``) restores the
    O(n^2) hot-bucket cost the cap exists to bound. On a healthy
    corpus the hot dim is empty and every stage is a no-op over zero
    rows. The window stage is SQL text (r14): the lag/struct/explode
    Column assembly cost ~50 py4j round trips per build."""
    rep = F.col("_id") if payload is None else F.struct("_id", payload)
    reps = (
        index.join(F.broadcast(hot.select(*bucket_cols)), bucket_cols)
        .groupBy(*bucket_cols, "sub_bucket")
        .agg(F.min(rep).alias("_lo"), F.max(rep).alias("_hi"))
    )
    lag_over = (
        f"OVER (PARTITION BY {', '.join(bucket_cols)} ORDER BY sub_bucket ASC)"
    )
    # rep structs order by _id first, so least/greatest pick the
    # lower/higher id together with its payload
    ends = ("id_a", "id_b") if payload is None else ("_a", "_b")
    edges = (
        reps.selectExpr(
            "_lo",
            "_hi",
            f"lag(_lo) {lag_over} AS _plo",
            f"lag(_hi) {lag_over} AS _phi",
        )
        .filter("_plo IS NOT NULL")
        .selectExpr(
            "inline(array("
            "struct(_plo AS x, _lo AS y), struct(_plo AS x, _hi AS y), "
            "struct(_phi AS x, _lo AS y), struct(_phi AS x, _hi AS y)))"
        )
        .selectExpr(f"least(x, y) AS {ends[0]}", f"greatest(x, y) AS {ends[1]}")
    )
    if payload is not None:
        edges = edges.selectExpr(
            "_a._id AS id_a",
            "_b._id AS id_b",
            f"_a.`{payload}` AS _pa",
            f"_b.`{payload}` AS _pb",
        )
    return edges.filter("id_a != id_b")


def _apply_sub_buckets(
    frame: DataFrame,
    hot: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    cap: int,
    salt_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Attach the deterministic ``sub_bucket`` column derived from a
    SHARED hot-bucket dim: the sub assignment hashes the row id (plus
    ``salt_cols``), so two frames tagged against the same ``hot``
    agree on every id — what lets an asymmetric (index/probe)
    self-join sub-split both sides consistently.

    ``salt_cols`` (r12): extra hash inputs, typically the bucket key
    itself. Unsalted, an id lands in the SAME sub in every band, so a
    pair split apart in one band is split apart in all of them —
    band-correlated recall loss. Salting by the bucket key makes each
    band an independent trial, so a bounded multi-band scheme retains
    ``1-(1-1/m)^k`` of pairs matching in k bands instead of ``1/m``."""
    # one parsed projection (r14): the when/pmod/ceil Column assembly
    # cost ~12 py4j round trips per call
    hash_args = ", ".join(f"`{c}`" for c in (id_col, *salt_cols))
    sub = (
        "CAST(CASE WHEN _bn IS NOT NULL THEN "
        f"pmod(xxhash64({hash_args}), {_sub_count_sql(cap)}) "
        "ELSE 0 END AS BIGINT) AS sub_bucket"
    )
    return frame.join(F.broadcast(hot), bucket_cols, "left").selectExpr(
        *[f"`{c}`" for c in frame.columns], sub
    )


def _multi_sub_buckets(
    frame: DataFrame,
    hot: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    cap: int,
    rounds: int,
    salt_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Probe-side middle path between one hash-assigned sub (recall
    ~1/m per hot bucket) and full explosion into all m subs (exact,
    O(n^2) when every bucket is hot): each probe row lands in up to
    ``rounds`` round-salted sub-buckets, so a true pair meets the
    index row's sub with probability ~``rounds/m`` per matching band
    — while the index side stays <= cap rows per (bucket, sub) task
    and total cost stays O(n * cap * rounds), never quadratic.
    ``array_distinct`` collapses rounds that hash to the same sub, so
    rows in NON-hot buckets (m=1) replicate exactly once and the
    certified small-SF plans carry zero extra rows.

    Deliberately NOT exact-exploded when ``m <= rounds`` (r13,
    measured): sampling ~1-(1-1/m)^rounds of each band's cross-sub
    pairs is a FEATURE in the all-hot low-entropy regime — true
    near-dup pairs match in many bands (k high) and survive
    ~1-(1-rho)^k, while background pairs within the hamming budget
    match in few bands and are mostly sampled away BEFORE the
    expensive exact verify. The d9 64x probe pinned this: the exact
    plan (every bucket m=3, full probe coverage) pays 524 s pushing
    ~6.6e6 background candidates through the jaccard verify for the
    SAME 16382/16382 within-budget recall the sampled plan gets in
    132 s."""
    m = _sub_count(cap)
    subs = F.array_distinct(
        F.array(
            *[
                F.pmod(F.xxhash64(id_col, *salt_cols, F.lit(r)), m)
                for r in range(rounds)
            ]
        )
    )
    return (
        frame.join(F.broadcast(hot), bucket_cols, "left")
        .withColumn("sub_bucket", F.explode(subs))
        .drop("_bn")
    )


def _explode_sub_buckets(
    frame: DataFrame,
    hot: DataFrame,
    bucket_cols: list[str],
    cap: int,
) -> DataFrame:
    """Probe-side counterpart of :func:`_apply_sub_buckets` that keeps
    recall EXACT: instead of hashing each probe row into one of the
    hot bucket's ``m = ceil(n/cap)`` subs, replicate it into ALL of
    them, so every (index row, probe row) pair still meets in exactly
    the index row's sub. Hash-assigning BOTH sides only compares pairs
    whose id hashes agree mod m — fine for the symmetric dup-family
    cap (those buckets only need connectivity), but it silently drops
    ~(m-1)/m of true pairs when buckets go hot from LOW KEY ENTROPY
    rather than duplication: the simhash multi-index's s blocks are
    only 64/s bits wide, so past ~cap * 2^(64/s) docs EVERY bucket is
    hot and recall decays corpus-wide (measured: 11252/16384 true
    pairs at the 64x probe before this helper existed). Cost: probe
    rows in hot buckets replicate m-fold — the true candidate volume
    the pigeonhole guarantee requires; the index side stays <= cap per
    (bucket, sub) task and the kernel's blocked matrix bounds peak
    memory regardless."""
    return (
        frame.join(F.broadcast(hot), bucket_cols, "left")
        .withColumn(
            "sub_bucket", F.explode(F.sequence(F.lit(0), _sub_count(cap) - 1))
        )
        .drop("_bn")
    )


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: md5 of the content, keep the lowest id.

    Output: [content_hash, n_copies, keep_id]. Shuffles 16-byte hashes
    + ids only — at 100 TB the text never moves."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-word shingles over an ALREADY-MATERIALIZED token array column
    -> array<string> (distinct).

    ``toks`` must be a plain column reference (project the tokenization
    into a column first). Passing the tokenizer expression inline is a
    measured ~4x regression: Catalyst does not common-subexpression-
    eliminate across higher-order-function lambdas, so ``slice(toks,
    i, k)`` re-evaluates the split PER SEQUENCE INDEX — O(tokens^2)
    splits per row."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def portable_minhash_md5s(x: Column, num_hashes: int) -> list[Column]:
    """Engine-portable MinHash slot hashes: ceil(num_hashes/4) salted
    md5s per value (``md5(x || ':q')``), each split into four
    INDEPENDENT 32-bit longs (hex chars 1-8, 9-16, 17-24, 25-32;
    DuckDB: ``CAST(('0x'||substr(md5(x||':q'),1+8*r,8)) AS BIGINT)``).
    Slot independence matters: a composite a+(s+1)*b double-hashing
    scheme was tried first and its across-slot correlation collapsed
    the 16-slot agreement estimate to ~2 effective samples — the
    near-dup-vs-index stage then over-dropped 21% of a batch whose
    true dup rate was ~7%. Four md5s per shingle keep the estimator's
    slot count honest at a quarter of the one-md5-per-slot cost;
    32-bit minima only matter through collisions, which are identical
    in both engines (parity never depends on width)."""
    cols: list[Column] = []
    for q in range((num_hashes + 3) // 4):
        m = F.md5(F.concat_ws(":", x, F.lit(q)))
        for r in range(4):
            if len(cols) == num_hashes:
                break
            cols.append(
                F.conv(F.substring(m, 1 + 8 * r, 8), 16, 10).cast("long")
            )
    return cols


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    portable: bool = False,
) -> DataFrame:
    """DataFrame-level MinHash: explode shingles once, compute all
    ``num_hashes`` seeded hashes as flat columns, groupBy-min.

    This shape stays inside whole-stage codegen and gets map-side
    partial aggregation (the min combines per-partition before the
    shuffle), unlike the nested higher-order-function form which
    re-evaluates the hash per signature slot — measured ~10x faster at
    sf0.1. Output: [_id, h0..h{n-1}].

    ``portable=True`` swaps xxhash64 for the md5-based quartered-slot
    scheme (:func:`portable_minhash_md5s`) so any engine with md5
    reproduces the signatures — and therefore every downstream band
    bucket and estimated-Jaccard decision — bit-for-bit (the
    incremental-ingest certification path); xxhash64 stays the
    throughput default."""
    tokened = df.select(
        F.col(id_col).alias("_id"), ws_tokens(text_col).alias("_toks")
    )
    shingled = tokened.select(
        "_id",
        F.explode(shingles_from_tokens(F.col("_toks"), shingle_k)).alias("_sh"),
    )
    # slot columns ride selectExpr strings (r13 build sweep): the
    # Column form assembled ~8 py4j calls per slot, twice per
    # incremental-ingest build; parsed SQL is sameSemantics-identical
    # (conv/substring/md5 and xxhash64 parse to the same expressions)
    if portable:
        slot_sqls = []
        for q in range((num_hashes + 3) // 4):
            m = f"md5(concat_ws(':', _sh, {q}))"
            for r in range(4):
                if len(slot_sqls) == num_hashes:
                    break
                slot_sqls.append(
                    f"CAST(conv(substring({m}, {1 + 8 * r}, 8), 16, 10) "
                    f"AS BIGINT) AS h{len(slot_sqls)}"
                )
        hashed = shingled.selectExpr("_id", *slot_sqls)
    else:
        hashed = shingled.selectExpr(
            "_id",
            *[
                f"xxhash64(_sh, {s}) AS h{s}"
                for s in range(num_hashes)
            ],
        )
    return hashed.groupBy("_id").agg(
        *[F.min(f"h{s}").alias(f"h{s}") for s in range(num_hashes)]
    )


def minhash_signatures_from_sets(
    sets: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """MinHash signatures over a ``hashed_shingle_sets`` frame, as ONE
    NARROW projection: each seed's signature is
    ``array_min(transform(_shingles, h -> xxhash64(h, seed)))`` — the
    per-doc min lives inside the row, so unlike the classic
    explode + groupBy shape there is NO exchange and no AQE stage job
    on the consumer's critical path (measured bit-identical and ~40%
    faster at sf0.1; at scale it strictly removes a corpus-wide
    shuffle). The seeded hashes take an 8-byte long instead of
    re-hashing the shingle STRING per seed — and a caller that also
    verifies with ``jaccard_pairs`` feeds both stages from ONE
    persisted sets frame, so the corpus is tokenized and shingled
    exactly once (the curation DAG and d8/d12 are the templates). The
    signature VALUES differ from the string-basis form (different hash
    composition) — candidates are an internal superset either way; the
    verified pair set is what the oracles certify. Empty shingle sets
    are dropped (the explode form never emitted them; a NULL signature
    would co-bucket all short docs). Output: [_id, h0..h{n-1}].

    The seed rides as a second xxhash64 ARGUMENT (an int literal), not
    a lambda closure — the expressions are parsed SQL strings (r13
    build sweep: the Python-lambda form cost ~30 ms of py4j traffic
    per slot; sameSemantics-identical)."""
    return sets.filter("size(_shingles) > 0").selectExpr(
        "_sid AS _id",
        *[
            f"array_min(transform(_shingles, h -> xxhash64(h, {s}))) AS h{s}"
            for s in range(num_hashes)
        ],
    )


def lsh_band_plan(
    threshold: float, num_hashes: int = 16
) -> tuple[int, int]:
    """Choose (bands, rows_per_band) for a target Jaccard threshold.

    The LSH S-curve's inflection sits at t ≈ (1/b)^(1/r); pick the
    divisor pair of ``num_hashes`` whose inflection lands closest to
    ``threshold`` (log-space distance), so pairs above the threshold
    are likely candidates and pairs below mostly are not — the
    standard banding calculus (Leskovec/Rajaraman/Ullman, Mining of
    Massive Datasets §3.4; datasketch's optimal-param search is the
    same idea with error weights). Exact-verify stages downstream make
    false positives harmless, so this only tunes the candidate
    volume/recall trade; recall on pairs at similarity s is
    1 - (1 - s^r)^b.

    Ties (a threshold exactly between two inflections — e.g. 0.5 with
    16 hashes sits between (4,4)'s 0.707 and (8,2)'s 0.354) break
    RECALL-FIRST: the lower inflection (more bands) wins, trading
    extra candidates for fewer misses — the right default when an
    exact verify follows.

    Returns (bands, rows_per_band) with bands * rows_per_band ==
    num_hashes — feed ``bands`` to :func:`minhash_lsh_candidates`."""
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold={threshold} outside (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    best: tuple[float, int, int, int] | None = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        t = (1.0 / b) ** (1.0 / r)
        # round distances so float noise can't hide a genuine tie,
        # then prefer more bands (lower inflection -> higher recall)
        d = round(abs(math.log(t) - math.log(threshold)), 12)
        if best is None or (d, -b) < (best[0], -best[1]):
            best = (d, b, r, 0)
    assert best is not None
    return best[1], best[2]


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int = 1024,
    sets: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` rows of
    ``num_hashes/bands`` values; docs sharing any full band land in the
    same bucket; bucket equi-self-join emits pairs (id_a < id_b).
    Buckets above ``bucket_cap`` members are hash-split so a hot bucket
    (boilerplate-heavy corpora) cannot go quadratic — see _cap_buckets.

    ``sets``: a prebuilt (typically persisted) ``hashed_shingle_sets``
    frame — signatures then derive from the shared shingle hashes
    (``minhash_signatures_from_sets``) instead of re-shingling the
    text. Must use the same ``shingle_k`` as the caller's verify.

    Output: [id_a, id_b] distinct candidate pairs."""
    rows_per_band = num_hashes // bands
    # persist the per-doc signatures (num_hashes longs/doc): the plan
    # reads them three times (hot-bucket counts + both self-join
    # sides), and each read would otherwise re-run the full
    # shingle-explode aggregation
    sig = managed_persist(
        minhash_signatures_from_sets(sets, num_hashes)
        if sets is not None
        else minhash_signatures_df(df, id_col, text_col, shingle_k, num_hashes)
    )
    # ONE parsed SQL expression (r13 build sweep): the per-band
    # struct/xxhash Column assembly cost ~40+ py4j round trips per
    # build; sameSemantics-identical (xxhash64 default seed 42 both
    # ways)
    structs = ",".join(
        "named_struct('band', %d, 'bucket', xxhash64(concat_ws(',', %s)))"
        % (
            b,
            ",".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    # inline() explodes the struct array straight to (band, bucket)
    # columns — one projection instead of explode + unpack (r14)
    banded = sig.selectExpr("_id", f"inline(array({structs}))")
    hot = _hot_buckets(banded, ["band", "bucket"], bucket_cap)
    # r12: bucket-salted assignment — without the salt an id lands in
    # the same sub in every band, so a pair split apart in one band is
    # split apart in all of them; salting makes each band an
    # independent ~1/m trial (retention 1-(1-1/m)^k over k shared
    # bands). No-op when the hot dim is empty (every certified SF).
    banded = _apply_sub_buckets(
        banded, hot, ["band", "bucket"], "_id", bucket_cap,
        salt_cols=("band", "bucket"),
    )
    left = banded.withColumnRenamed("_id", "id_a")
    right = banded.withColumnRenamed("_id", "id_b")
    pairs = (
        left.join(right, ["band", "bucket", "sub_bucket"])
        .filter("id_a < id_b")
        .select("id_a", "id_b")
    )
    # chain edges ride the caller's jaccard verify like any candidate
    chain = _chain_edges(banded, hot, ["band", "bucket"])
    return pairs.unionByName(chain).distinct()


def hashed_shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc DISTINCT k-shingle sets as xxhash64 bigint arrays:
    ``[_sid, _shingles array<bigint>]`` — the shared feature frame of
    the text-dedup family. ``jaccard_pairs`` verifies on it (long
    intersections skip per-element UTF8 work, ~30x) and
    ``simhash_sets_df`` votes fingerprint bits over the same hashes,
    so a query composing candidates + verify shingles the corpus ONCE
    (callers persist it; the frame holds 8 bytes/shingle, not text).
    A 64-bit hash collision folding two distinct shingles is
    birthday-bounded ~1e-9 for a billion-shingle corpus — below every
    certified rounding.

    ``carry``: extra ``df`` columns to ride the frame (e.g. a keeper
    score) — they then reach pair verification for free through the
    joins ``jaccard_pairs`` performs anyway (``carry`` there), instead
    of costing a separate score-lookup scan later."""
    # parsed-SQL projections (r14): the shingle/transform lambda
    # Column assembly cost ~25 py4j round trips per call; the strings
    # parse to the same expressions (xxhash64 default seed 42 both
    # ways, sequence/slice/concat_ws literal-for-literal)
    shingles = (
        f"array_distinct(transform(sequence(1, greatest(size(_toks) - "
        f"{shingle_k - 1}, 1)), i -> concat_ws(' ', slice(_toks, i, "
        f"{shingle_k}))))"
    )
    carry_sql = [f"`{c}`" for c in carry]
    return df.selectExpr(
        f"`{id_col}` AS _sid",
        f"{_ws_tokens_sql(text_col)} AS _toks",
        *carry_sql,
    ).selectExpr(
        "_sid",
        f"transform({shingles}, s -> xxhash64(s)) AS _shingles",
        *carry_sql,
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    min_jaccard: float | None = None,
    broadcast_sets: bool = False,
    sets: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard.

    Joins shingle sets only for candidate ids (sparse). The union is
    computed by inclusion-exclusion (|A| + |B| - |A∩B|, exact because
    the shingle arrays are distinct), so each pair hashes one array
    instead of building an intersection AND a union.

    The per-doc shingle sets are xxhash64-HASHED to bigint arrays
    before the pair join: ``array_intersect`` over longs skips the
    per-element UTF8 hashing/equality of the string form — measured
    ~30x on a 1.5M-candidate verify at sf0.1 (105s -> 3.3s). The
    Jaccard value is identical to the string-set value unless two
    distinct shingles collide in 64 bits (birthday bound ~1e-9 for a
    billion-shingle corpus — far below the 6-decimal round the
    certified queries emit).

    ``min_jaccard`` enables a PROVABLY LOSSLESS size prefilter:
    jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|) (intersection is at most
    the smaller set, union at least the larger), so pairs whose size
    ratio is below the target threshold cannot reach it and are
    dropped before the per-pair set intersection. Cheap integer
    compare vs array hashing — at 100 TB the candidate verify is the
    widest stage of the dedup pipeline, and this trims it without
    touching recall (the caller still applies its own
    ``jaccard >= t`` filter on the exact value).

    ``broadcast_sets=True`` hints both shingle-set join sides for
    broadcast, keeping the (large) candidate-pair side un-shuffled —
    right when the corpus side fits executor memory (the bench SFs;
    measured 2.4x vs letting AQE discover it). Leave False at
    production scale: the per-doc set frame grows with the corpus, and
    the id-keyed shuffle join is the scalable path (AQE still
    broadcasts if runtime stats allow).

    ``sets``: a prebuilt (typically already-persisted)
    ``hashed_shingle_sets`` frame to verify against — pass it when the
    same sets feed another stage (e.g. shingle-basis SimHash
    fingerprints in d9) so the corpus is shingled and cached ONCE per
    query instead of once per operator. Must use the same
    ``shingle_k``.

    ``carry``: per-doc columns already riding the ``sets`` frame
    (``hashed_shingle_sets(carry=...)``) to emit per SIDE as
    ``<col>_a`` / ``<col>_b`` — e.g. a keeper score, which
    ``dedup_clusters`` reads off the verified edge list
    (``inline_score_cols``). Zero extra
    joins: the columns ride the two set-side joins this verify
    performs anyway."""
    if sets is None:
        # the per-doc set frame feeds BOTH pair sides, and the side
        # projections differ (id_a/_sa vs id_b/_sb) so Spark's
        # ReuseExchange never fires — without a persist the shingle
        # hashing (the widest narrow stage of the verify) executes
        # twice, once under each side's exchange. One materialization,
        # two cached reads; released by the registry wrapper like
        # every library persist. The cache holds hashed arrays
        # (8 bytes/shingle), not text.
        sets_df = managed_persist(
            hashed_shingle_sets(df, id_col, text_col, shingle_k)
        )
    else:
        sets_df = sets
    if broadcast_sets:
        sets_df = F.broadcast(sets_df)
    a = sets_df.selectExpr(
        "_sid AS id_a",
        "_shingles AS _sa",
        "size(_shingles) AS _na",
        *[f"`{c}` AS `{c}_a`" for c in carry],
    )
    b = sets_df.selectExpr(
        "_sid AS id_b",
        "_shingles AS _sb",
        "size(_shingles) AS _nb",
        *[f"`{c}` AS `{c}_b`" for c in carry],
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    if min_jaccard is not None:
        joined = joined.filter(
            f"least(_na, _nb) >= {float(min_jaccard)!r}D * greatest(_na, _nb)"
        )
    carried = [f"`{c}_{side}`" for c in carry for side in ("a", "b")]
    return joined.selectExpr(
        "id_a",
        "id_b",
        "_na + _nb AS _sum",
        "size(array_intersect(_sa, _sb)) AS _inter",
        *carried,
    ).selectExpr(
        "id_a",
        "id_b",
        "round(_inter / (_sum - _inter), 6) AS jaccard",
        *carried,
    )


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash: per token a 64-bit xxhash; each bit votes +1/-1;
    fingerprint bit i = 1 iff the vote sum is positive.

    Expressed as 64 aggregate-sums over bit tests — JVM-side; for very
    wide use cases, a pandas UDF batching into numpy would also work,
    but this form keeps whole-stage codegen.

    PASS-COUNT caveat (r13 HOF audit): the 64 folds each re-evaluate
    the token-hash transform (interpreted HOFs share no subtrees), so
    this column form pays 128 array passes — and 64x the xxhash work —
    per row. It exists for column-level composition/tests; every
    package path uses :func:`simhash_df` (explode + bit-sliced packed
    counters: tokens hash ONCE, map-side partial agg) instead."""
    h = F.transform(tokens, lambda x: F.xxhash64(x))
    bits = [
        F.when(
            F.aggregate(
                h,
                F.lit(0).cast("long"),
                lambda acc, v: acc
                + F.when(v.bitwiseAND(F.shiftleft(F.lit(1).cast("long"), i)) != 0, 1).otherwise(-1),
            )
            > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def simhash_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """DataFrame-level SimHash via bit-sliced packed counters: explode
    tokens, hash once, then accumulate the 64 per-bit set-counts as 32
    packed longs (bit g in the low 32 lanes, bit g+32 in the high 32),
    one HashAggregate with 33 sum buffers. The signed vote for bit i is
    2*c_i - n (c_i = tokens with bit i set, n = token count), so
    fingerprint bit i = 1 iff 2*c_i > n — identical math to the earlier
    +-1 vote forms.

    Shape history: a 64-aggregate HOF expression blew the codegen method
    size limit (interpreted fallback, ~1.4x slower); the tall-skinny
    (doc, bit) vote form stayed compiled but pushed 64x the token rows
    through the partial aggregate. This packed form keeps codegen (33
    ordinary sum buffers) with NO row fanout: token rows flow through
    the partial agg once, and the exchange carries one 33-long row per
    doc. Measured ~2x on d9 end-to-end at sf0.1. Lane overflow needs a
    doc with >= 2^32 tokens — not a real input. Output: [_id, _fp]."""
    # every expression below is assembled as a SQL STRING and handed to
    # the JVM in a handful of selectExpr/expr calls: the earlier
    # per-bit Column-operator form made ~400 py4j round trips and cost
    # ~1.2s of pure DataFrame BUILD time per invocation (measured at
    # d9; execution identical either way)
    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.explode(ws_tokens(text_col)).alias("_tok"),
    ).selectExpr("_id", "xxhash64(_tok) AS _h")
    return _simhash_from_hashes(hashed)


def simhash_sets_df(sets: DataFrame) -> DataFrame:
    """SimHash fingerprints voted over a ``hashed_shingle_sets`` frame
    — the SHINGLE-basis fingerprint: ``[_id, _fp]`` from
    ``[_sid, _shingles]``.

    Shingle features de-correlate fingerprints decisively on real text
    (Manku et al.'s simhash dedup also fingerprints shingled features,
    not unigrams): unigram votes are dominated by the corpus-common
    tokens every document shares, so unrelated docs land hamming-close
    — measured on the harness corpus at sf0.1, 11.4% of RANDOM doc
    pairs sit within hamming 13 of each other under unigram votes vs
    0.0004% within hamming 17 under shingle votes, while true
    near-dup pairs (jaccard >= 0.8) stay at hamming <= 15 across the
    1x..16x replicas. That selectivity gap is the difference between a
    quadratic candidate set (27M pairs at 16x sf0.1 — the old scale
    tail) and a linear one (~100k).

    The shingles are ALREADY 64-bit hashes, so the vote stage is an
    explode + the packed bit-count aggregate — no tokenization, no
    re-hash; pass the same persisted frame to ``jaccard_pairs`` and
    the corpus text is read and shingled exactly once per query."""
    hashed = sets.select(
        F.col("_sid").alias("_id"), F.explode("_shingles").alias("_h")
    )
    return _simhash_from_hashes(hashed)


def _simhash_from_hashes(hashed: DataFrame) -> DataFrame:
    """Shared vote core: ``[_id, _h]`` feature hashes -> ``[_id, _fp]``
    via the packed 33-buffer aggregate documented in ``simhash_df``."""
    packed = [
        f"(shiftright(_h, {g}) & 1) | shiftleft(shiftright(_h, {g + 32}) & 1, 32)"
        f" AS _p{g}"
        for g in range(32)
    ]
    counts = (
        hashed.selectExpr("_id", *packed)
        .groupBy("_id")
        .agg(
            F.expr("count(1)").alias("_n"),
            *[F.expr(f"sum(_p{g})").alias(f"_s{g}") for g in range(32)],
        )
    )
    fp_terms = []
    for g in range(32):
        fp_terms.append(
            f"(CASE WHEN (_s{g} & 4294967295) * 2 > _n"
            f" THEN CAST({1 << g} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
        fp_terms.append(
            f"(CASE WHEN shiftright(_s{g}, 32) * 2 > _n"
            f" THEN shiftleft(CAST(1 AS BIGINT), {g + 32})"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    return counts.selectExpr("_id", "(%s) AS _fp" % " | ".join(fp_terms))


def _block_slices(n_blocks: int) -> list[tuple[int, int]]:
    """(offset, width) per block splitting 64 bits into ``n_blocks``
    contiguous slices; the first ``64 % n_blocks`` get one extra bit."""
    base_w, extra = divmod(64, n_blocks)
    slices = []
    off = 0
    for b in range(n_blocks):
        w = base_w + (1 if b < extra else 0)
        slices.append((off, w))
        off += w
    return slices


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    bucket_cap: int = 1024,
    shingle_k: int | None = None,
    exact_hot_buckets: bool | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with guaranteed recall via multi-index
    Hamming search (the HmSearch/multi-index-hashing family): split
    the 64-bit fingerprint into ``s = max_hamming//2 + 1`` blocks. A
    pair within the hamming budget must have SOME block differing in
    at most ONE bit (all blocks >= 2 diffs would total >= 2s >
    max_hamming), so an equi-join of exact block values (index side)
    against each doc's block value plus its ``w`` one-bit flips (probe
    side) finds every such pair on at least one block — recall 1 by
    construction, then the exact Hamming distance verifies.

    Why not the classic ``max_hamming+1`` equality-only bands: twice
    the blocks means half the bits per slice, and bucket selectivity
    degrades EXPONENTIALLY in slice width. At max_hamming=13 the
    banded scheme needs 14 slices of 4-5 bits (random-pair collision
    ~0.63 per doc pair summed over bands) while this scheme uses 7
    blocks of 9-10 bits probed at radius 1 (~0.13) — ~5x fewer false
    candidates through the verify at the same guarantee (measured
    ~1.9x end-to-end on d9 at sf0.1). Probe fanout costs s*(w+1) ~ 73
    small rows/doc in the exchange instead of 14 — cheap next to the
    avoided candidate pairs.

    Hot buckets are hash-split at ``bucket_cap`` members of the INDEX
    side against a shared hot dim; the probe side is exploded across
    every sub (exact recall) or round-salt-sampled into a few (the
    bounded plan) depending on ``exact_hot_buckets`` — see
    ``hamming_near_pairs`` for the full plan menu and the automatic
    budget guard.

    ``shingle_k``: fingerprint over k-shingle features instead of
    unigram tokens (``simhash_sets_df`` — see there for why shingles
    de-correlate the fingerprints by orders of magnitude). Callers
    that also verify with ``jaccard_pairs`` should instead build one
    ``hashed_shingle_sets`` frame and compose the stages around it so
    the corpus shingles once (the d9 query is the template)."""
    # persist the fingerprints (2 longs/doc): the 64 bit-vote sums are
    # the expensive stage, and the plan reads them three times
    # (hot-bucket counts + both self-join sides)
    if shingle_k is not None:
        fp = simhash_sets_df(hashed_shingle_sets(df, id_col, text_col, shingle_k))
    else:
        fp = simhash_df(df, id_col, text_col)
    fp = managed_persist(fp)
    return hamming_near_pairs(
        fp,
        max_hamming=max_hamming,
        bucket_cap=bucket_cap,
        exact_hot_buckets=exact_hot_buckets,
    )


def hamming_near_pairs(
    fp: DataFrame,
    max_hamming: int = 8,
    bucket_cap: int = 1024,
    exact_hot_buckets: bool | None = None,
) -> DataFrame:
    """All pairs of a ``[_id, _fp]`` fingerprint frame within the
    hamming budget — the candidate-join core of ``simhash_near_dups``
    (see there for the multi-index scheme and its guarantee), exposed
    over raw fingerprints so any 64-bit signature source (simhash,
    sign-LSH packed to a long, perceptual image hashes riding the
    multimodal tables) can reuse it and so the pigeonhole recall is
    property-testable with constructed fingerprints.
    Output: [id_a, id_b, hamming], id_a < id_b, distinct.

    Applicability window (r10, measured at the 64x probe): the
    pigeonhole blocks are only ``64/s`` bits wide, so block buckets
    hold ``~n / 2^(64/s)`` docs regardless of corpus content — past
    ``n ~ bucket_cap * 2^(64/s)`` (~130k docs at budget 17 / s=9 /
    cap 1024) EVERY bucket goes hot and the exact candidate volume
    grows quadratically (measured 155 s / 58.1x wall on 64x docs).
    The width cannot be bought back with longer fingerprints: the
    budget scales with the bit width for a fixed angular threshold,
    so block width is ~2/theta bits for ANY fingerprint size.

    The radius is 1 (``s = max_hamming//2 + 1`` blocks, each probed
    with its one-bit flips). The radius-2 split (``max_hamming//3 + 1``
    wider blocks probed with every weight-<=2 flip) would emit the same
    pairs, since every candidate is verified against the exact distance,
    but it lost every measurement: media 16x (800k blobs) r1 194 s vs
    r2 >15 min per rep, d9 64x r2 524 s vs 203 s exact / 132 s bounded
    at r1 (BENCHNOTES r13) — its ~16x probe fanout costs more in the
    exchange than its wider blocks save in candidates.

    ``exact_hot_buckets`` (r11: the guard is now automatic):

    * ``None`` (default) — AUTO: one guard job collects the
      hot-bucket dim (``_collect_hot_dim``) and estimates the exact
      scheme's hot candidate volume as ``(w+1) * sum(hot _bn^2)`` —
      index occupancy times the probed neighborhood of each hot
      bucket. At or under ``_EXACT_PAIR_BUDGET`` (1e9) pair
      evaluations the exact (recall-1) plan runs; past it the
      operator degrades to the BOUNDED O(n*cap) sub-sampled plan and
      emits a ``UserWarning`` naming the estimate and the opt-in. On
      any corpus inside the applicability window the hot dim is
      empty, the estimate is 0, and the auto plan emits the exact
      one's pairs — the guard costs one tiny agg job and changes
      nothing.
    * ``True`` — exact recall regardless of cost (the caller opts
      INTO the quadratic region; no guard job runs).
    * ``False`` — always the bounded plan, never quadratic (r12
      form; no guard job runs). Per hot bucket of m = ceil(n/cap)
      subs: the index side hash-assigns each row to ONE sub (salted
      by the bucket key, so the assignment is independent across
      bands), the probe side lands in up to
      ``_BOUNDED_PROBE_ROUNDS`` (4) round-salted subs, and
      consecutive subs are linked by hamming-VERIFIED chain edges
      (``_chain_edges``). Pair recall: a true pair matching in k
      bands survives with ~``1-(1-rounds/m)^k`` (each band an
      independent trial); family CONNECTIVITY (keep-one-per-family
      clustering) is additionally repaired by the chain edges, which
      are exact-distance checked, so they add only true pairs. Cost
      O(n * cap * rounds).

    Past the budget the quadratic term dominates wall and the bounded
    plan (or the MinHash-LSH family, whose bucket-key entropy is
    arbitrary — d8 measured 16359/16384 at the same 64x probe) is the
    right tool."""
    slices = _block_slices(max_hamming // 2 + 1)
    # SQL-string expression build (one JVM parse, no per-literal
    # py4j tax). Index side: s exact block values; probe side:
    # each block value plus its one-bit flips.
    def slice_sql(o: int, w: int) -> str:
        return f"(shiftright(_fp, {o}) & {(1 << w) - 1})"

    idx_sql = "array(%s)" % ",".join(
        f"named_struct('band', {b}, 'slice', {slice_sql(o, w)})"
        for b, (o, w) in enumerate(slices)
    )
    probe_sql = "array(%s)" % ",".join(
        f"named_struct('band', {b}, 'slice', ({slice_sql(o, w)} ^ {flip}))"
        for b, (o, w) in enumerate(slices)
        for flip in [0] + [1 << j for j in range(w)]
    )
    # inline() explodes straight to (band, slice) — one projection
    # instead of explode + unpack per side (r14)
    index = fp.selectExpr("_id", "_fp", f"inline({idx_sql})")
    probe = fp.selectExpr("_id", "_fp", f"inline({probe_sql})")
    cols = ["band", "slice"]
    if exact_hot_buckets is None:
        # AUTO guard (r11): estimate the exact scheme's hot candidate
        # volume as (w+1) * sum(hot _bn^2) — occupancies are ~uniform
        # in the all-hot low-entropy regime that creates this
        # problem. Inside the window the dim is empty and the
        # estimate 0; past it this is what stops a 100 TB caller from
        # silently entering the quadratic region (r10's 155+ s at the
        # 64x octave).
        hot, hot_rows, _ = _collect_hot_dim(index, cols, bucket_cap)
        w_max = max(w for _, w in slices)
        est_pairs = sum(r["_bn"] * r["_bn"] for r in hot_rows) * (w_max + 1)
        use_exact = est_pairs <= _EXACT_PAIR_BUDGET
        if not use_exact:
            import warnings

            warnings.warn(
                "hamming_near_pairs: estimated exact hot-bucket "
                f"candidate volume ~{est_pairs:.2e} pair evals "
                f"exceeds _EXACT_PAIR_BUDGET={_EXACT_PAIR_BUDGET:.0e}"
                " — the corpus is past the multi-index "
                "applicability window (n >~ bucket_cap * "
                "2^(64/s)); degrading to the bounded "
                "O(n*cap*rounds) sub-sampled plan (family "
                "connectivity preserved via hamming-verified "
                "chain edges across sub-buckets; pair recall "
                f"~1-(1-{_BOUNDED_PROBE_ROUNDS}/m)^k over k "
                "matching bands). Pass exact_hot_buckets=True to "
                "opt into the quadratic exact plan, or switch to "
                "the MinHash-LSH family (minhash_lsh_candidates) "
                "for scale-free bucket entropy.",
                UserWarning,
                stacklevel=2,
            )
    else:
        hot = _hot_buckets(index, cols, bucket_cap)
        use_exact = exact_hot_buckets
    # index side: hash-assigned subs (<= cap rows per task), salted
    # by the bucket key so the assignment is INDEPENDENT per band —
    # unsalted, a pair split apart in one band was split apart in
    # every band (r11 behavior). Probe side: exact plan EXPLODES
    # into every sub of a hot bucket (recall 1 — hash-assigning
    # both sides would only compare pairs whose id hashes collide
    # mod m, see _explode_sub_buckets); bounded plan assigns each
    # probe row to up to _BOUNDED_PROBE_ROUNDS round-salted subs
    # (recall ~rounds/m per matching band, cost linear in rounds).
    # At the certified SFs no bucket is hot, so all plans are
    # identical there.
    idx = _apply_sub_buckets(index, hot, cols, "_id", bucket_cap, salt_cols=cols)
    left = idx.withColumn("_side", F.lit(0))
    right = (
        _explode_sub_buckets(probe, hot, cols, bucket_cap)
        if use_exact
        else _multi_sub_buckets(
            probe, hot, cols, "_id", bucket_cap, _BOUNDED_PROBE_ROUNDS,
            salt_cols=cols,
        )
    ).withColumn("_side", F.lit(1))
    # Per-bucket pair generation runs as a numpy XOR+popcount
    # kernel instead of a block equi-join: the join streams the
    # FULL index x probe cross product through SMJ row machinery
    # (measured 3.5e9 rows / ~50 s at the 16x replica for 435k
    # survivors — per-row operator overhead, not arithmetic, was
    # the cost), while the kernel materializes each bucket once
    # and evaluates the same pairs as vectorized uint64 SWAR
    # popcounts (~10 machine ops per pair). The kernel rides
    # mapInPandas over a repartition on the bucket key with the
    # bucket split done IN-KERNEL (pandas groupby): per-call
    # overhead is then per-PARTITION, not per-bucket — the
    # groupBy().applyInPandas() form paid ~2.5 s of per-group
    # Arrow/eval overhead across ~1300 buckets at sf0.1, swamping
    # the arithmetic it saved. Both sides shuffle only the
    # exploded keys (s + s*(w+1) small rows per doc — identical
    # exchange volume to the join plan); per-partition frames are
    # bounded by the same shuffle-partition sizing as any
    # exchange, and the blocked matrix bounds the kernel's peak
    # at ~35 MB per task regardless of bucket shape. Same pairs,
    # same recall guarantee — pinned against the brute-force
    # cross join by test_hamming_near_pairs_pigeonhole_recall and
    # the kernel A/B test. (The UDF closure is self-contained —
    # numpy + literals only — so executors need not import this
    # package.)
    id_type = fp.schema["_id"].dataType.simpleString()
    thr = int(max_hamming)

    def _partition_pairs(batches):
        import numpy as np
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        M1 = np.uint64(0x5555555555555555)
        M2 = np.uint64(0x3333333333333333)
        M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
        H01 = np.uint64(0x0101010101010101)
        C1, C2, C4, C56 = (
            np.uint64(1), np.uint64(2), np.uint64(4), np.uint64(56),
        )
        THR = np.uint64(thr)
        out_a: list = []
        out_b: list = []
        out_h: list = []
        # Blocked SWAR popcount with PREALLOCATED buffers and
        # in-place ufuncs (r13): the expression form allocated ~9
        # fresh 34 MB temporaries per block, so with 32 executor
        # threads the kernel was MEMORY-BANDWIDTH-bound (plus
        # allocator/huge-page churn) — measured 2.5-3.7x slower
        # than this form at identical pair counts. 256x4096 blocks
        # (8 MB) keep the working set near-cache-resident; outputs
        # are bit-identical (exact integer popcounts either way).
        BA, BB = 256, 4096
        xbuf = np.empty((BA, BB), dtype=np.uint64)
        tbuf = np.empty((BA, BB), dtype=np.uint64)
        for _, g in pdf.groupby(["band", "slice", "sub_bucket"], sort=False):
            ia = g["_side"].to_numpy() == 0
            if not ia.any() or ia.all():
                continue
            ids = g["_id"].to_numpy()
            fps = np.ascontiguousarray(
                g["_fp"].to_numpy(), dtype=np.int64
            ).view(np.uint64)
            fa, ids_a = fps[ia], ids[ia]
            fb, ids_b = fps[~ia], ids[~ia]
            for s in range(0, len(fa), BA):
                fa_s, ia_s = fa[s : s + BA], ids_a[s : s + BA]
                na = len(fa_s)
                for t in range(0, len(fb), BB):
                    fb_t = fb[t : t + BB]
                    nb = len(fb_t)
                    x = xbuf[:na, :nb]
                    tmp = tbuf[:na, :nb]
                    np.bitwise_xor(fa_s[:, None], fb_t[None, :], out=x)
                    np.right_shift(x, C1, out=tmp)
                    np.bitwise_and(tmp, M1, out=tmp)
                    np.subtract(x, tmp, out=x)
                    np.right_shift(x, C2, out=tmp)
                    np.bitwise_and(tmp, M2, out=tmp)
                    np.bitwise_and(x, M2, out=x)
                    np.add(x, tmp, out=x)
                    np.right_shift(x, C4, out=tmp)
                    np.add(x, tmp, out=x)
                    np.bitwise_and(x, M4, out=x)
                    np.multiply(x, H01, out=x)
                    np.right_shift(x, C56, out=x)
                    mask = (x <= THR) & (
                        ia_s[:, None] < ids_b[None, t : t + BB]
                    )
                    ii, jj = np.nonzero(mask)
                    if len(ii):
                        # keep survivors as numpy arrays —
                        # .extend would box every element to a
                        # Python object, which dominates when a
                        # loose budget admits millions of pairs
                        out_a.append(ia_s[ii])
                        out_b.append(ids_b[t : t + BB][jj])
                        out_h.append(x[ii, jj].astype(np.int64))
        if out_a:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "hamming": pd.Series(
                        np.concatenate(out_h), dtype="int32"
                    ),
                }
            )

    pairs = left.unionByName(right).repartition(
        "band", "slice", "sub_bucket"
    ).mapInPandas(
        _partition_pairs,
        schema=f"id_a {id_type}, id_b {id_type}, hamming int",
    )
    if not use_exact:
        # hamming-verified, so the output contract (every row within
        # max_hamming) holds for the chain edges too
        chain = _chain_edges(idx, hot, cols, "_fp").selectExpr(
            "id_a", "id_b", "CAST(bit_count(_pa ^ _pb) AS INT) AS hamming"
        )
        pairs = pairs.unionByName(chain.filter(f"hamming <= {thr}"))
    # the kernel already filtered hamming <= budget and
    # id_a < id_b; distinct collapses the per-band duplicate
    # emissions, shuffling only survivors
    return pairs.distinct()


def contamination_flags(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: flag corpus documents that share
    any k-word shingle with an evaluation/benchmark set (the standard
    train/test-overlap decontamination pass before pretraining).

    Output: [id_col, n_shared, contaminated] — one row per corpus doc,
    n_shared = number of DISTINCT eval shingles the doc contains.

    Scale shape: benchmarks are tiny next to a 100 TB corpus, so the
    distinct eval-shingle set is built once and BROADCAST; the corpus
    side explodes shingles in a narrow pass and hash-joins locally —
    corpus text never shuffles. The only wide exchange is the per-doc
    count of matched shingles, keyed on the id and bounded by the
    number of hits (zero-hit docs are restored by a final left join on
    ids only — left to AQE, which broadcasts while hits are small and
    degrades gracefully on an adversarially contaminated corpus).
    """
    eval_grams = (
        eval_set.select(ws_tokens(text_col).alias("_toks"))
        .select(F.explode(shingles_from_tokens(F.col("_toks"), k)).alias("_g"))
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col), ws_tokens(text_col).alias("_toks")
    ).select(
        id_col, F.explode(shingles_from_tokens(F.col("_toks"), k)).alias("_g")
    )
    hits = (
        corpus_grams.join(F.broadcast(eval_grams), "_g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).cast("long").alias("contaminated"),
        )
    )


# broadcast ceiling for the duplicated-window-hash membership set:
# 4M longs ≈ 32 MB on the wire — comfortably under Spark's 8 GB
# broadcast hard cap and small against executor memory, while any
# realistically deduplicated corpus stays far below it (the set holds
# only hashes occurring >= min_count times)
_BCAST_MAX_DUP_HASHES = 4_000_000


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-SUBSTRING dedup (the suffix-array method of
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", re-expressed relationally): every ``span_tokens``-
    token sliding window (stride 1) is hashed; a window whose hash
    occurs >= ``min_count`` times in the corpus — across OR within
    documents, like the suffix-array formulation — marks its token
    interval as duplicated; overlapping/adjacent intervals are merged
    per doc (gaps-and-islands) and the covered tokens are removed.

    Output: [id_col, n_dup_spans, span_tokens_removed, clean_text] —
    one row per input doc (docs with no duplicated span pass through
    with 0/0/original text).

    Scale shape (how this replaces a suffix array at 100 TB):
      * window hashing is ONE narrow pass (transform over the token
        array inside codegen) — the text column never enters a
        shuffle; only (hash, position) pairs do, the same weight class
        as a suffix-array's LCP entries. The window hash is
        ``xxhash64(slice(tokens, i, L))`` — an 8-byte long straight
        off the token array (no per-window string build), so the
        exploded occurrence exchange carries longs, not 32-char md5
        strings (~5x lighter rows; measured ~1.3x on the hashing
        pass). The hash only drives MEMBERSHIP (count >= min_count),
        and a 64-bit collision folding two distinct windows is
        birthday-bounded ~1e-9 for a billion-window corpus — the same
        argument as ``hashed_shingle_sets``;
      * the duplicate-hash set is a groupBy(count) on those hashes —
        map-side partials, no distinct over text;
      * flagged occurrences come from one membership join against the
        duplicated-hash set — BROADCAST below a 4M-hash cap (the
        common case: duplicated windows are a small fraction), so the
        occurrence stream probes it map-side and is never sorted; a
        bounded limit probe detects the pathological all-duplicated
        corpus and degrades to a shuffle-HASH join (no broadcast, and
        still no O(n log n) sort of all occurrences); interval
        merging is a per-doc window function over ONLY the flagged
        positions (duplicated spans, not all spans);
      * reconstruction filters the token array by the doc's merged
        span list (collect_list of a handful of [s,e] structs) in one
        narrow expression.
    Detection/merging/removal stay oracle-certifiable: the DuckDB twin
    re-derives the duplicated-window MEMBERSHIP with its own md5
    formula (bit-equal hash values are not needed — only the flagged
    position sets, identical in the collision-free regime), and the
    d5 suite checks clean_text byte-for-byte via md5(clean_text)."""
    L = int(span_tokens)
    if L < 2:
        raise ValueError(f"span_tokens must be >= 2, got {span_tokens}")
    base = df.selectExpr(f"`{id_col}`", f"{_ws_tokens_sql(text_col)} AS _t")
    occ = _window_occurrences(base, id_col, L)
    dup = managed_persist(
        occ.groupBy("_h")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_h")
    )
    # Membership join strategy: the duplicated-hash set is usually a
    # small fraction of all windows (most windows are unique), so
    # broadcast it and let the corpus-sized occurrence stream probe it
    # MAP-SIDE — planned as SortMergeJoin, this join shuffles AND
    # sorts every window occurrence by hash, the one O(n log n) term
    # in the operator (measured as the super-linear tail at 16x). A
    # bounded limit probe (precedent: chunking's edge probe) guards
    # the pathological all-duplicated corpus: past the cap the join
    # degrades to a shuffle-HASH join — still no sort of the
    # occurrence stream, and no corpus-sized broadcast.
    # full count, not limit(cap+1): the frame is persisted, and a
    # limit's incremental partition ramp-up materializes the cache
    # only partially, so the main job recomputes the missing dup
    # partitions (the expensive occ map side) — count() populates the
    # whole cache in one pass for the same guard information (A/B'd
    # equal-or-faster at sf0.1 in-session)
    small = dup.count() <= _BCAST_MAX_DUP_HASHES
    flagged = occ.join(
        F.broadcast(dup) if small else dup.hint("shuffle_hash"), "_h"
    )
    return _excise_flagged(
        base, flagged, id_col, L, "n_dup_spans", "span_tokens_removed"
    )


def _window_occurrences(base: DataFrame, id_col: str, L: int) -> DataFrame:
    """Every stride-1 ``L``-token window of ``base`` ([id, _t token
    array]) as ``[id, _s start, _h xxhash64(slice)]`` — one narrow
    explode, the shared front of the span-excision family."""
    gram_expr = (
        "filter(transform(sequence(1, size(_t)), i -> "
        f"struct(i AS _s, CASE WHEN i + {L} - 1 <= size(_t) "
        f"THEN xxhash64(slice(_t, i, {L})) "
        "ELSE CAST(NULL AS BIGINT) END AS _h)), x -> x._h IS NOT NULL)"
    )
    # inline() explodes the struct array straight to (_s, _h) — one
    # projection instead of explode + unpack (r14)
    return base.selectExpr(f"`{id_col}`", f"inline({gram_expr})")


def _excise_flagged(
    base: DataFrame,
    flagged: DataFrame,
    id_col: str,
    L: int,
    n_col: str,
    removed_col: str,
) -> DataFrame:
    """Merge flagged window positions (``[id, _s, ...]``) into maximal
    intervals per doc (gaps-and-islands over ONLY the flagged
    positions) and reconstruct each doc's text with the covered tokens
    removed. Shared tail of :func:`duplicate_span_stats` and
    :func:`decontaminate_spans`. Output: [id, n_col, removed_col,
    clean_text]; unflagged docs pass through with 0/0/original.

    The per-doc span list rides an EXPLICIT broadcast back onto the
    corpus: flagged docs are a small fraction of any corpus this
    operator is the right tool for (dup spans in span dedup,
    eval-set hits in decontamination), and the alternative — an
    id-keyed shuffle of ``base`` — would exchange the token arrays,
    the one column this family promises never to shuffle. Before the
    membership set was cached the same plan arose implicitly from
    Catalyst's size estimate; caching hides the estimate, so the
    hint pins it."""
    # window SQL strings (r13 build sweep): the Column/Window form cost
    # ~0.2 s of py4j per call and this tail runs three times per d5
    # build. The nested-window form (max-over-window inside the
    # island-sum's operand) resolves to the same two Window operators
    # the analyzer extracted before — one Sort+Exchange either way,
    # identical values.
    over_prev = (
        f"OVER (PARTITION BY `{id_col}` ORDER BY _s "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    over_cum = (
        f"OVER (PARTITION BY `{id_col}` ORDER BY _s "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    islands = (
        flagged.selectExpr("*", f"_s + {L - 1} AS _e")
        .selectExpr("*", f"max(_e) {over_prev} AS _prev")
        .selectExpr(
            "*",
            "sum(CASE WHEN _prev IS NULL OR _s > _prev + 1 THEN 1 "
            f"ELSE 0 END) {over_cum} AS _isl",
        )
        .groupBy(id_col, "_isl")
        .agg(F.min("_s").alias("s"), F.max("_e").alias("e"))
    )
    per_doc = islands.groupBy(id_col).agg(
        F.expr("count(*)").alias(n_col),
        F.expr("sum(e - s + 1)").alias(removed_col),
        F.expr("collect_list(struct(s, e))").alias("_spans"),
    )
    kept_expr = (
        "array_join(transform(filter(sequence(1, size(_t)), "
        "i -> _spans IS NULL OR NOT exists(_spans, "
        "sp -> i >= sp.s AND i <= sp.e)), "
        "i -> element_at(_t, CAST(i AS INT))), ' ')"
    )
    return base.join(F.broadcast(per_doc), id_col, "left").selectExpr(
        f"`{id_col}`",
        f"CAST(coalesce(`{n_col}`, 0) AS BIGINT) AS `{n_col}`",
        f"CAST(coalesce(`{removed_col}`, 0) AS BIGINT) AS `{removed_col}`",
        f"{kept_expr} AS clean_text",
    )


def decontaminate_spans(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Benchmark-decontamination by REMOVAL: excise every corpus token
    span that matches a k-token window of the evaluation/benchmark set
    (the shipping form of the check :func:`contamination_flags` only
    reports — flagging tells you the corpus is dirty, this returns the
    clean corpus). Matched windows merge into maximal intervals per
    doc and the covered tokens are removed; documents with no overlap
    pass through byte-identical.

    Output: [id_col, n_contam_spans, contam_tokens_removed,
    clean_text].

    Scale shape: benchmarks are tiny next to a 100 TB corpus, so the
    DISTINCT eval window-hash set is built once and BROADCAST; the
    corpus side is the same narrow stride-1 window explode as
    :func:`duplicate_span_stats` (text never shuffles — only flagged
    (id, position) pairs reach the interval-merge window), and both
    sides hash windows identically (xxhash64 over the token slice), so
    matching is exact on token sequences."""
    L = int(k)
    if L < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    base = corpus.selectExpr(
        f"`{id_col}`", f"{_ws_tokens_sql(text_col)} AS _t"
    )
    eval_base = eval_set.selectExpr(f"{_ws_tokens_sql(text_col)} AS _t")
    eval_hashes = (
        _window_occurrences(eval_base.selectExpr("*", "0 AS _eid"), "_eid", L)
        .select("_h")
        .distinct()
    )
    occ = _window_occurrences(base, id_col, L)
    flagged = occ.join(F.broadcast(eval_hashes), "_h")
    return _excise_flagged(
        base, flagged, id_col, L, "n_contam_spans", "contam_tokens_removed"
    )
