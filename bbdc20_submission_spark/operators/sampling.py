"""Deterministic sampling operators for training-data curation.

Corpus curation samples by stratum (language, quality bucket, source)
with reproducibility requirements PRNG-based `df.sample` cannot give:
re-running the pipeline — or running it on a different partitioning —
must pick the SAME rows. Both operators key the decision on a hash of
the row's own id, so membership is a pure function of the data:

- ``stratified_sample``: per-stratum Bernoulli sampling at per-stratum
  rates (hash-threshold — one narrow pass, no shuffle);
- ``reservoir_per_stratum``: exactly k rows per stratum, chosen by
  hash order (one shuffle on the stratum key — the distributed,
  deterministic analog of reservoir sampling).

Both are scale-shape: membership needs no global state, so they run
identically on 500 rows or 100 TB of splits.

r14: expression bodies are parsed SQL strings — the Column-by-Column
assembly cost one py4j round trip per node (a sampler build was
~30-60 round trips; d4 composes five samplers), the string form one
parse per projection. Values are unchanged: the fragments parse to
the same expressions the Column forms built (bucket formulas verified
sameSemantics-identical; threshold arithmetic literal-for-literal).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bbdc20_submission_spark.operators.columns import add_sql_columns
from bbdc20_submission_spark.operators.text import sql_str_lit

# hash-threshold resolution: fractions are quantized to 1/2^20
_BUCKETS = 1 << 20


def portable_hash_bucket(id_col: Column, seed: int) -> Column:
    """Engine-portable variant of the xxhash64 bucket
    (``_bucket_sql``): first 8 hex chars of
    md5(f"{id}:{seed}") mod 2^20. Any engine with md5 reproduces the
    SAME sample membership (DuckDB:
    ``CAST(('0x'||substr(md5(id||':s'),1,8)) AS BIGINT) % 1048576``) —
    the property that makes a curation sample auditable outside Spark.
    ~3x the per-row hash cost of xxhash64; both are narrow."""
    from bbdc20_submission_spark.operators.text import portable_md5_prefix64

    h = portable_md5_prefix64(
        F.concat(id_col.cast("string"), F.lit(f":{seed}"))
    )
    return F.pmod(h, F.lit(_BUCKETS))


def _bucket_sql(id_col: str, seed: int, portable: bool) -> str:
    """Uniform bucket in [0, _BUCKETS) as a pure function of (id, seed),
    as a SQL fragment over a plain column name: xxhash64, or with
    ``portable`` the expression ``portable_hash_bucket`` builds."""
    i = f"`{id_col}`"
    if portable:
        salt = sql_str_lit(f":{seed}")
        return (
            f"pmod(CAST(conv(substring(md5(concat(CAST({i} AS STRING), "
            f"{salt})), 1, 8), 16, 10) AS BIGINT), {_BUCKETS})"
        )
    return f"pmod(xxhash64({i}, {seed}), {_BUCKETS})"


def _key_sql(key) -> str:
    """A strata/budget key as a SQL literal of its own type, so a
    ``map<int, ...>`` lookup keys an int stratum column exactly as a
    string map keys a string one. Ints are BIGINT (``L``) so the map
    widens to any integral column type; floats go through a string
    cast so NaN/inf parse too."""
    if isinstance(key, str):
        return sql_str_lit(key)
    if isinstance(key, bool):
        return "true" if key else "false"
    if isinstance(key, int):
        return f"{key}L"
    if isinstance(key, float):
        return f"CAST('{key!r}' AS DOUBLE)"
    raise TypeError(
        f"unsupported strata key {key!r} of type {type(key).__name__};"
        " use str, bool, int or float keys"
    )


def _map_sql(entries: Mapping, value_fmt) -> str:
    """``map(k1, v1, ...)`` literal over sorted keys, each formatted
    by its type."""
    return "map(%s)" % ", ".join(
        f"{_key_sql(k)}, {value_fmt(v)}"
        for k, v in sorted(entries.items())
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    seed: int = 7,
    portable: bool = False,
) -> DataFrame:
    """Keep each row with its stratum's fraction, deterministically.

    ``fractions`` maps stratum value -> keep fraction (e.g.
    ``{"en": 0.1, "de": 0.5}``); unlisted strata use
    ``default_fraction``. The keep decision is
    ``hash(id, seed) mod 2^20 < fraction * 2^20`` — reproducible across
    runs, partitionings, and engines, and a pushdown-friendly narrow
    filter (no shuffle, no state). Same shape as `sampleBy`, minus the
    PRNG nondeterminism. ``portable=True`` swaps xxhash64 for the
    md5-based ``portable_hash_bucket`` so the membership is
    reproducible OUTSIDE Spark too (audits, oracles)."""
    thr_map = _map_sql(
        fractions, lambda frac: str(int(frac * _BUCKETS))
    )
    thr = (
        f"coalesce({thr_map}[`{strata_col}`], "
        f"{int(default_fraction * _BUCKETS)})"
    )
    return df.filter(
        f"{_bucket_sql(id_col, seed, portable)} < {thr}"
    )


def reservoir_per_stratum(
    df: DataFrame,
    strata_cols: Sequence[str],
    k: int,
    id_col: str = "doc_id",
    seed: int = 7,
    portable: bool = False,
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, by hash order.

    Ranking on ``(hash(id, seed), id)`` inside each stratum gives a
    uniform-without-replacement sample that is a pure function of the
    data — the distributed analog of reservoir sampling, as one ranked
    window (single shuffle on the strata columns). Ties are impossible
    (id is unique), so the result is total-order deterministic.
    ``portable=True`` uses the md5-based engine-portable hash."""
    if "_rk" in df.columns:
        raise ValueError(
            "reservoir_per_stratum reserves the working column '_rk';"
            " rename it on the input frame"
        )
    parts = ", ".join(f"`{c}`" for c in strata_cols)
    rk = (
        f"row_number() OVER (PARTITION BY {parts} ORDER BY "
        f"{_bucket_sql(id_col, seed, portable)} ASC, `{id_col}` ASC) AS _rk"
    )
    return (
        df.selectExpr("*", rk)
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    target_weights: Mapping[str, float],
    total_fraction: float,
    id_col: str = "doc_id",
    seed: int = 7,
    portable: bool = False,
) -> DataFrame:
    """Data MIXING (the DoReMi / Pile-weights stage): sample the corpus
    down to ``total_fraction`` of its rows with the surviving set
    distributed across strata according to ``target_weights`` — e.g.
    resample a web-heavy corpus to 60% web / 30% code / 10% books.

    Per stratum s with observed count N_s, the target take is
    ``n_s = total_fraction * N * w_s`` rows, so the per-stratum keep
    rate is ``min(1, n_s / N_s)`` (a stratum smaller than its target
    is kept whole — rates never exceed 1; strata absent from
    ``target_weights`` get weight 0 and are dropped). Membership is
    the same hash-threshold decision as ``stratified_sample``, so the
    sample is a pure function of the data: reproducible across runs,
    partitionings, and (with ``portable=True``) engines.

    Scale shape: ONE tiny aggregation (stratum counts — map-side
    partials, output rows = |strata|) broadcast back onto a narrow
    filter; no shuffle of the corpus, no global sort, no state. The
    rate arithmetic stays in IEEE doubles with the weights as exact
    literals, so any engine derives bit-identical thresholds."""
    if "_strata_d" in df.columns or "_thr" in df.columns:
        raise ValueError(
            "mixture_sample reserves the working columns '_strata_d'"
            " and '_thr'; rename them on the input frame"
        )
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_n_s"))
    # N derives from the stratum counts — a df.agg(count(*)) here
    # would be a second full-corpus scan for a number the tiny counts
    # frame already holds
    total = counts.agg(F.sum("_n_s").alias("_n"))
    # D-suffixed literals parse directly as DOUBLE (a bare 0.6 would
    # be DECIMAL), exactly the values F.lit(float(w)) carried
    wmap = _map_sql(target_weights, lambda w: f"{float(w)!r}D")
    # floor, not cast: Spark's double->long cast truncates but DuckDB's
    # ROUNDS — an explicit floor is the form both engines agree on
    # (thresholds are non-negative)
    thr = (
        f"floor(least(CAST({_BUCKETS} AS DOUBLE), "
        f"{float(total_fraction)!r}D "
        f"* CAST(_n AS DOUBLE) "
        f"* coalesce({wmap}[`{strata_col}`], 0.0D) "
        f"/ CAST(_n_s AS DOUBLE) * {_BUCKETS})) AS _thr"
    )
    # eqNullSafe, matching token_budget_sample: a NULL stratum is a
    # legitimate group and must take the unlisted-stratum weight-0
    # path (dropped by rate), not vanish by equi-join mechanics
    dim = counts.crossJoin(F.broadcast(total)).selectExpr(
        f"`{strata_col}` AS _strata_d", thr
    )
    return (
        df.join(
            F.broadcast(dim), F.expr(f"`{strata_col}` <=> _strata_d")
        )
        .filter(
            f"{_bucket_sql(id_col, seed, portable)} < _thr"
        )
        .select(*df.columns)
    )


def split_assign(
    df: DataFrame,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
    id_col: str = "doc_id",
    seed: int = 7,
    out_col: str = "split",
    portable: bool = False,
) -> DataFrame:
    """Deterministic disjoint train/val/test assignment: one extra
    column mapping each row to a named split by hash-bucket threshold.

    The splits are a pure function of (id, seed) — disjoint and
    exhaustive by construction, stable under repartitioning, appends,
    or reordering (a row keeps its split forever), and reproducible in
    any engine when ``portable=True`` (md5 bucket; DuckDB formula in
    ``portable_hash_bucket``). Weights are quantized to 1/2^20 like
    every sampler here; the last split absorbs the remainder so the
    assignment is total. Zero shuffles — one narrow projection."""
    if len(weights) != len(names) or not names:
        raise ValueError("weights and names must be equal-length, non-empty")
    if any(w < 0 for w in weights) or sum(weights) <= 0:
        raise ValueError("weights must be non-negative with a positive sum")
    total = float(sum(weights))
    b = _bucket_sql(id_col, seed, portable)
    # cumulative integer thresholds; the final edge is forced to
    # _BUCKETS so rounding can never leave a bucket unassigned. Edges
    # ascend, so the flat CASE's first matching branch is the same
    # split the nested when-chain picked.
    edges: list[int] = []
    acc = 0.0
    for w in weights[:-1]:
        acc += float(w) / total
        edges.append(int(acc * _BUCKETS))
    branches = " ".join(
        f"WHEN {b} < {edge} THEN {sql_str_lit(name)}"
        for name, edge in zip(names[:-1], edges)
    )
    case = f"CASE {branches} ELSE {sql_str_lit(names[-1])} END"
    return add_sql_columns(df, {out_col: case})


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    budgets: Mapping[str, int] | int,
    tokens_col: str,
    id_col: str = "doc_id",
    seed: int = 7,
    portable: bool = False,
    n_coarse: int = 4096,
) -> DataFrame:
    """TOKEN-budget sampling: per stratum, keep documents in
    deterministic hash order until the cumulative ``tokens_col`` sum
    reaches the stratum's budget (training mixtures are specified in
    TOKENS, not row rates — a rate-based sampler over/undershoots
    whenever document lengths differ across strata).

    Semantics (the engine-portable spec any oracle can re-derive):
    order each stratum by (hash_bucket(id, seed), id); a doc is kept
    iff the token sum of the docs strictly BEFORE it is < budget — so
    the first doc to cross the budget is still kept (its budget slot
    was open when reached) and every stratum with a positive budget
    keeps at least one doc. Strata absent from a ``budgets`` mapping
    get budget 0 and are dropped (mixture_sample's weight-0 rule); an
    int budget applies to every stratum — including a NULL stratum,
    which is one group like any other (null-safe join; under a
    mapping, NULL counts as absent and is dropped).

    Scale shape — the naive form (one cumulative-sum window per
    stratum) serializes each stratum through a single task, the same
    trap ``exact_percentile``'s two-pass bracket avoids, so this uses
    the identical trick: (1) ONE aggregation to per-(stratum, coarse
    hash bucket) token sums (<= ``n_coarse`` rows per stratum — the
    bounded state); (2) a cumulative sum over that tiny dim classifies
    every coarse bucket as fully-kept / straddling / dropped — at most
    ONE straddling bucket per stratum; (3) the dim broadcasts back
    onto the corpus (no corpus shuffle for the keep/drop decision) and
    only the ~N_s/n_coarse docs of the straddling bucket pay a
    doc-level ordered window. The corpus text never shuffles."""
    if _BUCKETS % n_coarse:
        raise ValueError(f"n_coarse={n_coarse} must divide {_BUCKETS}")
    clash = {"_fb", "_cb", "_t", "_cls", "_cum0", "_budget", "_cumd", "_ds",
             "_dcb"} & set(df.columns)
    if clash:
        raise ValueError(
            f"token_budget_sample reserves working columns {sorted(clash)};"
            " rename them on the input frame"
        )
    fine = _bucket_sql(id_col, seed, portable)
    coarse = f"CAST(floor({fine} / {_BUCKETS // n_coarse}) AS BIGINT)"

    if isinstance(budgets, Mapping):
        bmap = _map_sql(budgets, lambda n: str(int(n)))
        budget = f"coalesce({bmap}[`{strata_col}`], 0)"
    else:
        budget = str(int(budgets))
    budget = f"CAST({budget} AS DOUBLE)"

    per = (
        df.groupBy(F.col(strata_col), F.expr(coarse).alias("_cb"))
        .agg(F.sum(F.col(tokens_col).cast("double")).alias("_t"))
    )
    cum0 = (
        f"sum(_t) OVER (PARTITION BY `{strata_col}` ORDER BY _cb ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - _t AS _cum0"
    )
    dim = (
        per.selectExpr(f"`{strata_col}`", "_cb", "_t", cum0,
                       f"{budget} AS _budget")
        .selectExpr(
            f"`{strata_col}` AS _ds",
            "_cb AS _dcb",
            "CASE WHEN _cum0 >= _budget THEN 0 "
            "WHEN _cum0 + _t < _budget THEN 2 ELSE 1 END AS _cls",
            "_cum0",
            "_budget",
        )
        .filter(F.col("_cls") > 0)
    )

    # null-safe equality on the stratum key: a NULL stratum is a
    # stratum like any other (groupBy and the window already treat it
    # as one group; a plain equi-join would silently drop its rows)
    tagged = (
        df.selectExpr("*", f"{fine} AS _fb", f"{coarse} AS _cb")
        .join(
            F.broadcast(dim),
            F.expr(f"(`{strata_col}` <=> _ds) AND (_cb = _dcb)"),
        )
        .drop("_ds", "_dcb")
    )
    full = tagged.filter(F.col("_cls") == 2)
    cumd = (
        f"sum(CAST(`{tokens_col}` AS DOUBLE)) OVER ("
        f"PARTITION BY `{strata_col}`, _cb "
        f"ORDER BY _fb ASC, `{id_col}` ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        f"- CAST(`{tokens_col}` AS DOUBLE) AS _cumd"
    )
    part = (
        tagged.filter(F.col("_cls") == 1)
        .selectExpr("*", cumd)
        .filter("_cum0 + _cumd < _budget")
        .drop("_cumd")
    )
    return full.unionByName(part).select(*df.columns)
