"""Document chunking + scrubbing operators for training-data prep.

- ``chunk_by_tokens``: split documents into fixed-size token chunks
  with optional overlap — sequence+explode (narrow generator, no
  shuffle), the same pattern as the interval-grid expansion.
- ``scrub_text``: normalization / PII-masking pass as a chain of
  regexp_replace (JVM regex, codegen).
- ``connected_components``: collapse near-duplicate PAIRS (from
  MinHash/SimHash/embedding LSH) into duplicate CLUSTERS via
  alternating small-star/large-star style min-label propagation —
  the finishing step of large-scale dedup. Iterative DataFrame
  algorithm with a fixed-point check; every iteration is one
  shuffle on the edge key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bbdc20_submission_spark.operators.columns import add_sql_columns
from bbdc20_submission_spark.operators.text import (
    _ws_tokens_sql,
    sql_str_lit,
    ws_tokens,
)


def chunk_by_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    overlap: int = 0,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Emit one row per chunk: [id, chunk_id, chunk_text, n_tokens,
    *keep_cols].

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the ragged tail chunk is kept.
    ``keep_cols`` are doc-level columns threaded through the explode so
    callers don't need a join back on the id (join-free = usable in a
    stateless streaming plan).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    # chunk starts: 0, stride, 2*stride, ... < n (the reference
    # get_windows convention, utils.py:10-16). r13: the chunk SLICES
    # are produced by ONE generator expression evaluated once per
    # DOCUMENT (posexplode of transform(sequence, slice)). The earlier
    # explode(sequence)-then-slice form left split(text) in the
    # Project above the Generate, re-tokenizing the full document once
    # per CHUNK row (O(tokens * chunks) character work, no plan tell
    # beyond the duplicated split in the formatted plan). posexplode's
    # pos column reproduces chunk_id exactly (sequence order).
    chunks_sql = (
        f"transform(sequence(0, CAST(greatest(ceil(size(`_toks`) "
        f"/ {float(stride)!r}D), 1) - 1 AS BIGINT)), "
        f"i -> slice(`_toks`, CAST(i * {stride} + 1 AS INT), {chunk_tokens}))"
    )
    keep = [f"`{c}`" for c in keep_cols]
    base = df.selectExpr(
        f"`{id_col}`", *keep, f"{_ws_tokens_sql(text_col)} AS _toks"
    )
    out = base.selectExpr(
        f"`{id_col}`",
        *keep,
        f"posexplode({chunks_sql}) AS (chunk_id, _chunk)",
    )
    return out.selectExpr(
        f"`{id_col}`",
        "CAST(chunk_id AS BIGINT) AS chunk_id",
        "concat_ws(' ', _chunk) AS chunk_text",
        "CAST(size(_chunk) AS BIGINT) AS n_tokens",
        *keep,
    )


def pack_sequences(
    chunks: DataFrame,
    budget_tokens: int = 1024,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    chunk_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Training-sequence packing (the GPT-style concat-and-cut stage):
    chunks are laid out in deterministic (pack_bucket, doc, chunk)
    order, token offsets accumulate, and each chunk is assigned to the
    fixed-budget sequence its FIRST token falls in — chunk-granular
    packing, so sequences fill to ``budget_tokens`` and overflow by at
    most one chunk (exact concat-split belongs to the tokenizer).

    Appends: ``pack_bucket`` (portable md5-prefix hash of the doc id
    mod ``n_buckets``), ``seq_id`` (sequence index within the bucket),
    ``seq_pos`` (the chunk's token offset within its sequence).

    Scale shape: ONE hash shuffle on pack_bucket, then a per-bucket
    running sum — ``n_buckets`` is the parallelism knob (each bucket
    packs independently as a linear scan; at cluster scale set it to a
    small multiple of the executor count). Deterministic on any
    engine: ordering and hashing are engine-portable, so the whole
    assignment is oracle-checkable, and a given corpus packs
    identically run to run — which is what makes packed-sequence
    training reproducible."""
    # parsed-SQL projections (r14): the bucket/window/arith Column
    # assembly cost ~30 py4j round trips per call
    bucket = (
        "pmod(CAST(conv(substring(md5(CAST(`%s` AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT), %d) AS pack_bucket" % (id_col, n_buckets)
    )
    start = (
        f"sum(`{tokens_col}`) OVER (PARTITION BY pack_bucket "
        f"ORDER BY `{id_col}` ASC, `{chunk_col}` ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        f"- `{tokens_col}` AS _start"
    )
    # an output column the input already has is replaced (withColumn
    # semantics); an input _start would clash with the working column
    if "_start" in chunks.columns:
        raise ValueError(
            "pack_sequences reserves the working column '_start'; rename it"
        )
    keep = [
        f"`{c}`" for c in chunks.columns
        if c not in ("pack_bucket", "seq_id", "seq_pos")
    ]
    return (
        chunks.selectExpr(*keep, bucket)
        .selectExpr("*", start)
        .selectExpr(
            "*",
            f"CAST(floor(_start / {budget_tokens}) AS BIGINT) AS seq_id",
        )
        .selectExpr(
            *keep,
            "pack_bucket",
            "seq_id",
            f"CAST(_start - seq_id * {budget_tokens} AS BIGINT) AS seq_pos",
        )
    )


def boilerplate_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-chunk detection (the chunk-granular form
    of substring dedup à la Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): fixed-size token chunks that appear
    in at least ``min_docs`` DISTINCT documents are boilerplate
    candidates (headers, footers, license banners, navigation).

    Output: [chunk_hash, n_docs, n_occurrences, exemplar_text].

    Scale shape: the wide aggregation groups on md5(chunk) and shuffles
    ONLY (hash, doc_id) — text never enters the exchange. Exemplar text
    is fetched afterwards by joining the (tiny) flagged-hash dim back
    against the chunk stream and keeping one occurrence per hash, so
    text moves only for actual boilerplate."""
    chunks = chunk_by_tokens(df, text_col, id_col, chunk_tokens).select(
        id_col, "chunk_id", "chunk_text", F.md5("chunk_text").alias("chunk_hash")
    )
    flagged = (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    exemplar = (
        chunks.join(F.broadcast(flagged.select("chunk_hash")), "chunk_hash")
        .groupBy("chunk_hash")
        .agg(F.min_by("chunk_text", F.struct(id_col, "chunk_id")).alias("exemplar_text"))
    )
    return flagged.join(exemplar, "chunk_hash").select(
        "chunk_hash", "n_docs", "n_occurrences", "exemplar_text"
    )


def epoch_order(
    packed: DataFrame,
    epoch: int,
    seed: int = 7,
    bucket_col: str = "pack_bucket",
    seq_col: str = "seq_id",
    portable: bool = False,
) -> DataFrame:
    """Per-epoch training order for packed sequences: append
    ``epoch_key`` = hash(seed, epoch, bucket, seq) — sorting by it
    yields a deterministic pseudorandom permutation of the SEQUENCES
    that differs per epoch (the standard every-epoch reshuffle), while
    rows inside a sequence stay contiguous (order by
    ``(epoch_key, seq_pos)``).

    ``portable=False`` (default): xxhash64 — the max-throughput form.
    ``portable=True``: the md5-prefix hash over ``"seed:epoch:bucket:
    seq"`` (``text.portable_md5_prefix64``, the same cross-engine
    contract the samplers use), so any engine with md5 reproduces the
    permutation bit-for-bit — certified by d10_scrub_chunk's
    ``epoch_key`` column. Ties: md5 collisions within 32 bits are
    possible at billion-sequence scale — consumers ordering by
    ``(epoch_key, bucket, seq)`` get a total order either way.

    Pure projection — no shuffle until the consumer orders/writes, and
    a sharded trainer usually never pays the global sort: write with
    ``repartition(n, epoch_key)`` + ``sortWithinPartitions`` and each
    reader streams its shard in local epoch order (the same layout
    mechanics as ``write_training_shards``). Re-running any epoch
    reproduces its exact order — the property that makes a training
    run resumable mid-epoch."""
    if portable:
        from bbdc20_submission_spark.operators.text import (
            portable_md5_prefix64,
        )

        key = portable_md5_prefix64(
            F.concat_ws(
                ":",
                F.lit(int(seed)),
                F.lit(int(epoch)),
                F.col(bucket_col),
                F.col(seq_col),
            )
        )
    else:
        key = F.xxhash64(
            F.lit(int(seed)), F.lit(int(epoch)),
            F.col(bucket_col), F.col(seq_col),
        )
    return packed.withColumn("epoch_key", key)


def hashed_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 16,
) -> DataFrame:
    """The shared feature frame of the boilerplate pair: token chunks
    with their md5 — ``[id_col, chunk_id, chunk_text, chunk_hash]``.
    Detection (:func:`boilerplate_hashes`) and removal
    (:func:`strip_boilerplate`) both consume it; a caller running both
    over the same corpus builds it ONCE (typically persisted) so the
    chunk explode + md5 runs one time instead of two — the curation
    DAG is the template."""
    return chunk_by_tokens(df, text_col, id_col, chunk_tokens).select(
        id_col, "chunk_id", "chunk_text", F.md5("chunk_text").alias("chunk_hash")
    )


def boilerplate_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 16,
    min_docs: int = 2,
    chunks: DataFrame | None = None,
) -> DataFrame:
    """Detection-only variant of :func:`boilerplate_chunks` for
    pipelines that immediately strip: just the flagged ``chunk_hash``
    dim (no exemplar-text fetch — that second join exists for audit/
    reporting, and is wasted work when the only consumer is
    ``strip_boilerplate``). ``chunks``: a prebuilt
    :func:`hashed_chunks` frame to share with the strip pass (must use
    the same ``chunk_tokens``). Output: [chunk_hash]."""
    if chunks is None:
        chunks = hashed_chunks(df, text_col, id_col, chunk_tokens)
    return (
        chunks.select(id_col, "chunk_hash")
        .groupBy("chunk_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("chunk_hash")
    )


def strip_boilerplate(
    df: DataFrame,
    flagged: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 16,
    chunks: DataFrame | None = None,
) -> DataFrame:
    """Remove flagged boilerplate chunks from every document and
    reassemble the survivors in order. ``flagged`` is the
    ``boilerplate_chunks`` output (only ``chunk_hash`` is used —
    broadcast, it is tiny by construction). ``chunks``: a prebuilt
    :func:`hashed_chunks` frame to share with the detection pass (must
    use the same ``chunk_tokens``). Documents reduced to nothing keep
    an empty string. Output: [id_col, {text_col}_clean,
    n_chunks_removed]."""
    if chunks is None:
        chunks = hashed_chunks(df, text_col, id_col, chunk_tokens)
    marked = chunks.join(
        F.broadcast(flagged.selectExpr("chunk_hash", "1 AS _bp")),
        "chunk_hash",
        "left",
    )
    # parsed-SQL aggregate expressions (r14): the collect_list/when/
    # struct Column assembly cost ~25 py4j round trips per call
    return marked.groupBy(id_col).agg(
        F.expr(
            "concat_ws(' ', array_compact(array_sort(collect_list("
            "CASE WHEN _bp IS NULL THEN struct(chunk_id, chunk_text) "
            "END)).chunk_text))"
        ).alias(f"{text_col}_clean"),
        F.expr(
            "CAST(sum(CASE WHEN _bp IS NOT NULL THEN 1 ELSE 0 END) "
            "AS BIGINT)"
        ).alias("n_chunks_removed"),
    )


SCRUB_RULES: list[tuple[str, str]] = [
    # (pattern, replacement) — applied in order
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\+?\d[\d\s().-]{7,}\d\b", "<PHONE>"),
    (r"https?://[^\s]+", "<URL>"),
]


def scrub_text(
    df: DataFrame, text_col: str = "text", out_col: str = "text_scrubbed"
) -> DataFrame:
    """PII/noise scrubbing as chained regexp_replace (single narrow
    projection; rules applied in SCRUB_RULES order)."""
    expr = f"`{text_col}`"
    for pattern, repl in SCRUB_RULES:
        expr = (
            f"regexp_replace({expr}, {sql_str_lit(pattern)}, "
            f"{sql_str_lit(repl)})"
        )
    return add_sql_columns(df, {out_col: expr})


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Minimum-label propagation over an undirected edge list.

    Output: [id, component] where component = min id reachable.
    Each iteration does two things:
    - neighbor-min: every node adopts the min label among itself and
      its neighbors (one groupBy shuffle over the symmetrized edges);
    - pointer doubling: every node then shortcuts to its LABEL's
      label (a self-join on the label frame), so the propagation
      distance doubles each round instead of growing by one hop.
    Convergence is O(log n) rounds even on path graphs (the
    small-star/large-star complexity class), not O(diameter);
    ``max_iterations=20`` therefore covers components of ~2^20 hops,
    and hitting the bound without convergence emits a warning instead
    of returning silently short-propagated labels.

    The symmetrized edge list is persisted up front: ``pairs`` is
    usually the tail of an expensive candidate+verify pipeline, and
    without the persist every iteration would recompute it from the
    source scan. Each iteration's labels are ``localCheckpoint``-ed:
    the doubling self-join references the hop frame twice, so WITHOUT
    lineage truncation the logical plan doubles every round and the
    driver dies planning it around round ~10; the checkpoint
    materializes in the convergence probe's own job (eager=False), so
    it stays one job per iteration.
    """
    import warnings

    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    converged = False
    for it in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        hopped = labels.join(neighbor_min, labels.id == neighbor_min.a, "left").select(
            "id",
            F.col("component").alias("_prev"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )
        # pointer doubling: component <- label(component). The parent
        # lookup is the POST-hop frame, so it shortcuts even in round 1
        # (chain 1-2-3: node 3 hops to 2, and 2 has already hopped to
        # 1 in this round's frame) — the doubling is never a no-op.
        parent = hopped.select(
            F.col("id").alias("_pid"), F.col("component").alias("_pcomp")
        )
        stepped = (
            hopped.join(parent, hopped.component == parent._pid, "left")
            .select(
                "id",
                "_prev",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_pcomp"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # Convergence probe every 2nd iteration (and on the last): the
        # probe is a full job, and with pointer doubling the label
        # frame converges in O(log n) rounds anyway — probing half as
        # often trades at most one cheap extra iteration for half the
        # probe jobs. The probing job also materializes the lazy
        # localCheckpoint (lineage truncation); on non-probe rounds the
        # checkpoint materializes inside the next round's job instead.
        if it % 2 == 1 or it == max_iterations - 1:
            changed = (
                stepped.filter(F.col("component") != F.col("_prev")).limit(1).count()
            )
            if changed == 0:
                labels = stepped.select("id", "component")
                converged = True
                break
        labels = stepped.select("id", "component")
    edges.unpersist()
    if not converged:
        warnings.warn(
            f"connected_components hit max_iterations={max_iterations} without "
            "converging; labels may be short-propagated on long chains",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _union_find_components(edges):
    """Driver-side union-find with path compression + union by size;
    returns node -> min-id-of-component for every node on an edge.
    Generic over any hashable, orderable id type (ints, strings)."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
                size[n] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    # min id per root, then node -> min
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in parent}


# Edge-count bound of dedup_clusters' driver union-find path (1M id
# pairs is ~16 MB on the driver); past it the all-Spark
# connected_components loop takes over.
_DRIVER_EDGE_THRESHOLD = 1_000_000


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    inline_score_cols: tuple[str, str] | None = None,
    quality_keeper_col: str | None = None,
) -> DataFrame:
    """Assign every document its dedup cluster representative: docs in
    a near-dup component share its min id; singletons keep their own.
    Output: [id_col, keep_id, is_duplicate].

    The verified near-dup edge list is tiny relative to the corpus —
    even 1M edges is ~16 MB of id pairs — so when it fits under
    ``_DRIVER_EDGE_THRESHOLD`` the components are solved with driver
    union-find (path compression + union by size, near-linear) and
    broadcast back: one collect + one broadcast join instead of
    O(log n) shuffle iterations. This is the finishing step real dedup
    pipelines use. Above the threshold (adversarial corpora — think
    boilerplate farms where edges ~ corpus) the iterative
    ``connected_components`` loop takes over. Both paths build the
    same label frame over the edge endpoints — (id, component[,
    quality keeper]) — and share one output projection; tests prove
    them identical.

    ``inline_score_cols=(score_a_col, score_b_col)`` switches on
    quality-aware keeper selection. The keeper scores are columns of
    ``pairs`` (a verify that carried them via
    ``jaccard_pairs(carry=...)``); every cluster member is an edge
    endpoint, so the edge rows cover every member. Each cluster keeps
    its max-score member with :func:`reselect_keepers` semantics (ties
    -> lowest id, NULL scores sort last). The driver path reads the
    scores off the edge rows it already collected (zero extra jobs or
    scans); the all-Spark path derives a score frame from the same
    edge columns and runs :func:`reselect_keepers` over its labels.
    The quality keeper REPLACES keep_id / is_duplicate (the policy a
    curation pipeline actually wants) unless ``quality_keeper_col`` is
    set, which emits both policies side by side: [id_col, keep_id,
    is_duplicate, quality_keeper_col, is_duplicate_q]."""
    if quality_keeper_col and inline_score_cols is None:
        raise ValueError(
            "dedup_clusters: quality_keeper_col needs inline_score_cols"
            " (the keeper scores ride the edge rows)"
        )
    out_cols = [id_col, "keep_id", "is_duplicate"]
    if quality_keeper_col:
        out_cols += [quality_keeper_col, "is_duplicate_q"]
    if len({c.lower() for c in out_cols}) < len(out_cols):
        raise ValueError(f"dedup_clusters: output columns collide: {out_cols}")
    src, dst = (
        ("id_a", "id_b")
        if {"id_a", "id_b"} <= set(pairs.columns)
        else tuple(pairs.columns[:2])
    )
    sel = [F.col(src).alias("_ea"), F.col(dst).alias("_eb")]
    if inline_score_cols is not None:
        sa_col, sb_col = inline_score_cols
        sel += [F.col(sa_col).alias("_sa"), F.col(sb_col).alias("_sb")]
    edge_sel = pairs.select(*sel)
    # the broadcast mapping schema derives its id type from _ea; a
    # mixed-type edge frame (int vs long) would mis-type _eb-originated
    # values far from here — fail fast instead
    id_type = edge_sel.schema["_ea"].dataType
    if id_type != edge_sel.schema["_eb"].dataType:
        raise ValueError(
            "dedup_clusters: edge columns must share one id type, got "
            f"{id_type} vs {edge_sel.schema['_eb'].dataType}"
        )
    # ONE job materializes the verify pipeline AND decides the path:
    # collect at most threshold+1 edges. When the result fits the
    # bound, LIMIT returned the COMPLETE edge set (a limit can only be
    # nondeterministic about WHICH rows it keeps when it drops some),
    # so the collected rows are exactly the edges — the earlier
    # persist + count() + collect() pair of jobs over the same
    # pipeline collapses into this collect. Past the bound only the
    # fact "too many" is used and the all-Spark path re-derives edges
    # itself (and on adversarial corpora the limit's early exit means
    # the probe never paid for the full edge volume).
    edge_rows = edge_sel.limit(_DRIVER_EDGE_THRESHOLD + 1).collect()
    if len(edge_rows) <= _DRIVER_EDGE_THRESHOLD:
        mapping = _union_find_components(
            [(r["_ea"], r["_eb"]) for r in edge_rows]
        )
        names = ["_cid", "_comp"]
        rows: list[tuple] = list(mapping.items())
        if inline_score_cols is not None:
            member_scores: dict = {}
            for r in edge_rows:
                member_scores[r["_ea"]] = r["_sa"]
                member_scores[r["_eb"]] = r["_sb"]
            q_map = _argmax_keepers(mapping, member_scores.items())
            names.append("_qcomp")
            rows = [(n, c, q_map[n]) for n, c in mapping.items()]
        # id/component carry the caller's id type (long doc ids, string
        # uuids, ...) — derived from the edge frame, not hardcoded
        schema = T.StructType([T.StructField(n, id_type) for n in names])
        comp = F.broadcast(df.sparkSession.createDataFrame(rows, schema))
    else:
        pairs_p = edge_sel.select("_ea", "_eb").persist()
        comp = connected_components(pairs_p, src="_ea", dst="_eb").toDF(
            "_cid", "_comp"
        )
        pairs_p.unpersist()
        if inline_score_cols is not None:
            scores = (
                edge_sel.selectExpr("_ea AS _cid", "_sa AS _s")
                .unionByName(edge_sel.selectExpr("_eb AS _cid", "_sb AS _s"))
                .distinct()
            )
            comp = reselect_keepers(
                comp,
                scores,
                id_col="_cid",
                cluster_col="_comp",
                score_col="_s",
                passthrough=("_comp",),
                keeper_col="_qcomp",
                dup_col="_qdup",
            ).drop("_qdup")
    # the label frame has internal column names and the join has an
    # explicit condition, so no id_col can collide with them
    ids = df.select(id_col)
    doc = ids[id_col]
    keep = F.coalesce(comp["_comp"], doc)
    cols = [doc, keep.alias("keep_id"), (keep != doc).alias("is_duplicate")]
    if inline_score_cols is not None:
        qkeep = F.coalesce(comp["_qcomp"], doc)
        if quality_keeper_col:
            cols += [
                qkeep.alias(quality_keeper_col),
                (qkeep != doc).alias("is_duplicate_q"),
            ]
        else:
            cols = [doc, qkeep.alias("keep_id"), (qkeep != doc).alias("is_duplicate")]
    return ids.join(comp, doc == comp["_cid"], "left").select(*cols)


def _argmax_keepers(mapping: dict, scored_items) -> dict:
    """Argmax keeper per component from (id, score) items, mirroring a
    ``row_number() OVER (ORDER BY score DESC NULLS LAST, id ASC)``
    window exactly (NaN sorts as the LARGEST score, like Spark float
    ordering). ``scored_items`` covers every node of ``mapping``: the
    driver path of :func:`dedup_clusters` reads one score per edge
    endpoint off the edge rows."""
    import math

    def cat(s) -> int:
        # DESC ordering class: NaN largest (0), values (1), NULL last (2)
        if s is None:
            return 2
        if isinstance(s, float) and math.isnan(s):
            return 0
        return 1

    def beats(s1, i1, s2, i2) -> bool:
        """(s1, i1) ranks before (s2, i2) under ORDER BY score DESC
        NULLS LAST, id ASC — no negation, so string scores order the
        same way the Spark window would."""
        c1, c2 = cat(s1), cat(s2)
        if c1 != c2:
            return c1 < c2
        if c1 == 1 and s1 != s2:
            return s1 > s2
        return i1 < i2

    best: dict = {}
    for i, s in scored_items:
        comp = mapping[i]
        if comp not in best or beats(s, i, *best[comp]):
            best[comp] = (s, i)
    return {n: best[c][1] for n, c in mapping.items()}


def reselect_keepers(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "keep_id",
    score_col: str = "score",
    passthrough: tuple[str, ...] = (),
    keeper_col: str = "keep_id",
    dup_col: str = "is_duplicate",
) -> DataFrame:
    """Quality-aware dedup keeper selection: re-pick every cluster's
    representative as the member with the MAX ``score_col`` (ties →
    lowest id), instead of :func:`dedup_clusters`'s min-id label.

    This is the keeper policy production dedup actually wants — keep
    the longest / cleanest / highest-quality member of each near-dup
    cluster, drop the rest. ``clusters`` is a cluster-label frame
    ([id, cluster label, _]: the ``dedup_clusters`` output, or the
    edge-endpoint labels of its all-Spark path); ``scores`` maps member
    ids to scores. Output: [id_col, *passthrough, keeper_col, dup_col] with
    the re-selected keeper; singletons keep themselves untouched.
    ``passthrough`` columns of ``clusters`` ride the same single
    broadcast-join pass (a caller wanting both the min-id and the
    quality keeper side by side would otherwise pay a corpus-sized
    self-join on the id); ``keeper_col``/``dup_col`` rename the
    outputs so they can coexist with passed-through originals.

    Partial-score semantics (deliberate, not an error): ``scores``
    need not cover every member. An UNSCORED member never wins the
    argmax (it is absent from the candidate set), and a cluster with
    NO scored member falls back to its existing label (the min-id
    keeper) via the coalesce. Pass a complete score frame — as
    ``dedup_clusters`` does (every member's edge-carried score) — when
    the max-score policy must hold for every cluster.

    Scale shape: the corpus NEVER shuffles. Real clusters (size ≥ 2)
    are a small fraction of any sane corpus — the same boundedness
    the driver-union-find path in :func:`dedup_clusters` relies on —
    so their member set rides broadcast joins against the score scan,
    the argmax window shuffles only those members, and the chosen
    keepers broadcast back over the cluster frame. Singleton rows go
    through one narrow coalesce."""
    from pyspark.sql import Window

    from bbdc20_submission_spark.caching import managed_persist

    # the (id, label) projection is read three times (the real-cluster
    # broadcast build, the member broadcast build, and the output
    # scan) — persist it once so the clusters lineage (which may be a
    # whole dedup pipeline) is not re-executed per consumer. Ids +
    # labels only: two longs per doc, the same O(n)-ids persist class
    # as curate()'s keep-id set.
    cl = managed_persist(
        clusters.select(
            *list(dict.fromkeys([id_col, cluster_col, *passthrough]))
        )
    )
    # cluster labels that actually have >1 member: tiny by assumption
    real = (
        cl.filter(F.col(cluster_col) != F.col(id_col))
        .select(cluster_col)
        .distinct()
    )
    members = cl.select(id_col, cluster_col).join(
        F.broadcast(real), cluster_col, "left_semi"
    )
    member_scores = scores.select(id_col, score_col).join(
        F.broadcast(members), id_col
    )
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    best = (
        member_scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(cluster_col, F.col(id_col).alias("_best"))
    )
    return (
        cl.join(F.broadcast(best), cluster_col, "left")
        .select(
            id_col,
            *passthrough,
            F.coalesce("_best", F.col(cluster_col)).alias(keeper_col),
            (
                F.coalesce("_best", F.col(cluster_col)) != F.col(id_col)
            ).alias(dup_col),
        )
    )
