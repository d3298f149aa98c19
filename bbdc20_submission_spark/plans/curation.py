"""End-to-end training-data curation pipeline: the composition the
individual LLM-data operators exist for, as one declarative DAG.

    raw documents
      │ 0. source blocklist       (C4-style, scan-pushed NOT IN)
      │ 1. exact dedup            (md5 groups, keep lowest id)
      │ 2. near-dup clustering    (MinHash LSH → verify → components,
      │                            keep each cluster's representative)
      │ 2b. substring span dedup  (optional; repeated 8-token windows
      │                            excised, Lee-et-al style)
      │ 3. quality + language     (heuristic filters, narrow maps)
      │ 4. PII scrub              (chained regexp_replace)
      │ 5. chunking               (fixed token windows, explode)
      │ 6. deterministic sampling (per-language stratified hash rates)
      ▼ curated chunks + per-stage audit counts

Every stage is built from the operators in ``operators/`` — this
module only composes them, so each stage's scale properties (hash-only
dedup shuffle, banded LSH equi-joins, narrow filters, explode
generators, shuffle-free sampling) are exactly the ones certified by
the per-operator driver queries and plan tests.

With ``audit=False`` (the production default) the pipeline stays lazy
up to ONE materialization — the near-dup edge list inside
``dedup_clusters`` (which d12 pays too) — and the returned frame runs
as a single composed plan. ``audit=True`` additionally counts the
survivors after every stage (one job per stage, each re-running the
prefix): a diagnostics mode for tests/sampling runs, not something to
switch on over 100 TB.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bbdc20_submission_spark.caching import managed_persist
from bbdc20_submission_spark.operators.chunking import (
    chunk_by_tokens,
    dedup_clusters,
    scrub_text,
)
from bbdc20_submission_spark.operators.dedup import (
    exact_dedup_groups,
    hashed_shingle_sets,
    jaccard_pairs,
    minhash_lsh_candidates,
)
from bbdc20_submission_spark.operators.sampling import stratified_sample
from bbdc20_submission_spark.operators.text import language_id, quality_score


def source_blocklist_filter(
    docs: DataFrame,
    blocked: tuple[str, ...],
    source_col: str = "source",
) -> DataFrame:
    """C4-style source/domain blocklist — the SHARED predicate for the
    batch DAG (stage 0) and the streaming curation chain, so batch and
    stream can never desynchronize on it. NULL sources are NOT
    blocked: a bare ``NOT IN`` drops them via three-valued logic, so
    the null branch is explicit (load-bearing: the c1 oracle carries
    the matching ``IS NULL OR NOT IN`` form)."""
    src = F.col(source_col)
    return docs.filter(src.isNull() | ~src.isin(*blocked))


@dataclass(frozen=True)
class CurationConfig:
    """Knobs for ``curate`` — defaults mirror common pretraining-filter
    settings scaled to the synthetic corpus."""

    # C4-style source/domain blocklist (stage 0); None/empty = off.
    # One narrow NOT-IN predicate evaluated before anything else —
    # Catalyst pushes it into the parquet scan (PushedFilters), so at
    # 100 TB blocked sources never leave the reader.
    blocked_sources: tuple[str, ...] | None = None
    source_col: str = "source"
    near_dup_jaccard: float = 0.5
    # quality-aware keeper policy: when set, each near-dup cluster's
    # representative is the member maximizing this column (tie →
    # lowest id) instead of the min-id label; the verify carries the
    # column onto the edge rows (jaccard_pairs(carry=...)) and
    # dedup_clusters picks the keeper from those edge-carried scores
    # (driver argmax under the edge bound, chunking.reselect_keepers
    # above it). The column must exist on the input docs (e.g.
    # n_chars).
    keeper_score_col: str | None = None
    # exact duplicate-substring dedup (Lee-et-al suffix-array style,
    # operators.dedup.duplicate_span_stats) over the near-dup
    # survivors; None = off. Runs BEFORE quality scoring so scores see
    # the deduplicated text.
    dedup_spans_min_count: int | None = None
    dedup_span_tokens: int = 8
    min_quality: float = 0.5
    # model-based quality gate (fastText/CCNet/DCLM stage); None = off.
    # Uses text.classifier_quality_score — one extra narrow expression
    # in the same filter projection, no new shuffle.
    min_clf_score: float | None = None
    keep_langs: tuple[str, ...] = ("en", "de", "es", "fr")
    chunk_tokens: int = 32
    chunk_overlap: int = 0
    sample_fractions: Mapping[str, float] | None = None  # lang -> rate
    # data-mixing alternative to sample_fractions: resample chunks
    # toward target per-language shares (DoReMi/Pile weights) at
    # mixture_total_fraction of the chunk count. Mutually exclusive
    # with sample_fractions.
    mixture_weights: Mapping[str, float] | None = None
    mixture_total_fraction: float = 1.0
    # third sampling mode: per-language TOKEN budgets (mixtures are
    # specified in tokens, not row rates) — keep chunks per stratum in
    # deterministic hash order until the budget of n_tokens is
    # crossed. Mutually exclusive with the two modes above.
    token_budgets: Mapping[str, int] | int | None = None
    sample_seed: int = 7
    # cross-document boilerplate removal (off by default: an extra
    # chunk+hash aggregation pass over the filtered corpus)
    strip_boilerplate_min_docs: int | None = None
    # window width for the optional eval-set decontamination stage
    # (the stage itself engages via curate(eval_set=...) — the eval
    # frame can't live in a config dataclass)
    decontaminate_k: int = 5


def curate(
    docs: DataFrame,
    config: CurationConfig = CurationConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    audit: bool = False,
    observe: bool = False,
    precomputed_pairs: DataFrame | None = None,
    eval_set: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Run the full curation DAG. Returns (curated chunk frame, audit
    counts per stage — empty unless ``audit=True`` or ``observe=True``).

    Output columns: [id_col, chunk_id, chunk_text, n_tokens,
    lang_pred, quality]. Audit keys: raw, exact_unique, near_unique,
    quality_lang_pass, chunks, sampled — each the surviving row count
    after that stage.

    ``audit=True`` pays one count() JOB per stage (a full re-execution
    of each prefix — diagnostics only, never production).
    ``observe=True`` is the production form of the same telemetry:
    each stage is wrapped in ``df.observe`` (Spark's Observation
    metric API), so stage row counts are collected as accumulator
    side-channels of the action the caller already runs — no per-stage
    re-execution of the prefix (a few cheap bookkeeping jobs can
    appear where observe nodes block exchange reuse; still strictly
    fewer jobs than audit, asserted in tests). The returned dict maps
    stage name ->
    Observation; after any action on the returned frame, resolve them
    with :func:`observed_counts`. (If a stage's subtree executes more
    than once in the final plan, the first execution's metrics win —
    counts here are deterministic, so the value is the same.)"""
    if audit and observe:
        raise ValueError(
            "audit and observe are mutually exclusive: audit pays a"
            " count() job per stage, observe collects the same counts"
            " as Observation side-channels — pick one"
        )
    counts: dict = {}

    def _tap(name: str, df: DataFrame) -> DataFrame:
        if audit:
            counts[name] = df.count()
        if observe:
            from pyspark.sql import Observation

            ob = Observation(name)
            counts[name] = ob
            df = df.observe(ob, F.count(F.lit(1)).alias("n"))
        return df

    docs = _tap("raw", docs)

    # 0. source/domain blocklist — the cheapest possible rejection
    # (scan-pushed predicate), so it runs before anything pays for a
    # blocked doc.
    if config.blocked_sources:
        docs = source_blocklist_filter(
            docs, config.blocked_sources, config.source_col
        )
        docs = _tap("source_pass", docs)

    # 1. exact dedup: keep each content group's lowest id. Broadcast
    # the (tiny relative to corpus) keep-id set? No — the group frame
    # is O(unique docs); join on the id which both sides hash-shuffle
    # once. At 100 TB the text column never enters the exchange.
    # The keep-id frame (ids only, O(unique docs) longs) is persisted:
    # the md5 group-agg would otherwise re-run for every consumer of
    # the survivor set (LSH signature build, cluster finishing, the
    # final output plan) — three full scans + shuffles for one tiny
    # reusable id set.
    keep = managed_persist(
        exact_dedup_groups(docs, text_col, id_col).select(
            F.col("keep_id").alias(id_col)
        )
    )
    exact_unique = docs.join(keep, id_col, "left_semi")
    exact_unique = _tap("exact_unique", exact_unique)

    # 2. near-dup clustering over the exact-unique survivors (exact
    # dups are already gone, so LSH only pays for real near-dup work);
    # keep one representative per cluster. Candidate signatures AND
    # the jaccard verify both feed from ONE persisted
    # hashed_shingle_sets frame — the survivors are tokenized and
    # shingled exactly once for the whole near-dup stage.
    score = config.keeper_score_col

    def _build_clusters() -> DataFrame:
        """Near-dup cluster labels. EAGER: ``dedup_clusters`` collects
        the verified edge list (one bounded job) when called."""
        if precomputed_pairs is not None:
            # a pipeline that already materialized the verified edge
            # set (a prior curate() audit, a d12-style clustering run,
            # a daily dedup job) passes it here and the whole LSH
            # prefix — shingling, signatures, banding, verify — is
            # skipped. CONTRACT: edges were computed over THIS corpus
            # after the same blocklist + exact dedup (foreign endpoint
            # ids would become phantom min-id cluster labels). Bare
            # (id_a, id_b) edges get the keeper scores <score>_a/_b
            # attached with one left join per edge side from the docs
            # score column, which covers every member.
            pairs = precomputed_pairs
            if score and not {f"{score}_a", f"{score}_b"} <= set(pairs.columns):
                for side in ("a", "b"):
                    pairs = pairs.join(
                        docs.select(id_col, score).toDF(
                            f"id_{side}", f"{score}_{side}"
                        ),
                        f"id_{side}",
                        "left",
                    )
            return dedup_clusters(
                exact_unique,
                pairs,
                id_col,
                inline_score_cols=(f"{score}_a", f"{score}_b") if score else None,
            )
        sets = managed_persist(
            hashed_shingle_sets(
                exact_unique, id_col, text_col, carry=(score,) if score else ()
            )
        )
        cands = minhash_lsh_candidates(
            exact_unique, id_col, text_col, sets=sets
        )
        pairs = jaccard_pairs(
            exact_unique,
            cands,
            id_col,
            text_col,
            min_jaccard=config.near_dup_jaccard,
            sets=sets,
            carry=(score,) if score else (),
        ).filter(F.col("jaccard") >= config.near_dup_jaccard)
        # the quality-keeper policy (keep each cluster's max-score
        # member) rides INSIDE dedup_clusters: keeper scores were
        # CARRIED onto the verified edge rows by jaccard_pairs (every
        # cluster member is an edge endpoint), so the driver-union-find
        # path reads them off the edges it already collected — zero
        # extra jobs or scans — and the all-Spark path above the edge
        # bound derives its score frame from the same edge columns
        # (reselect_keepers semantics unchanged). The id spine handed
        # to dedup_clusters is the PERSISTED exact-dedup keep-id frame
        # — the same id set as exact_unique by construction — so
        # consumers of the cluster labels re-read a cached ids-only
        # column instead of re-running the corpus scan + keep
        # semi-join under every reference (r14, guide §2.4).
        return dedup_clusters(
            keep,
            pairs,
            id_col,
            inline_score_cols=(f"{score}_a", f"{score}_b") if score else None,
        )

    def _quality_lang_filtered(base: DataFrame) -> DataFrame:
        """Stages 3+4's filter: quality, language, optional classifier
        gate — all narrow per-row maps over ``base``."""
        scored = quality_score(base, text_col)
        scored = language_id(scored, text_col)
        keep_pred = (F.col("quality") >= config.min_quality) & F.col(
            "lang_pred"
        ).isin(*config.keep_langs)
        if config.min_clf_score is not None:
            from bbdc20_submission_spark.operators.text import (
                classifier_quality_score,
            )

            scored = classifier_quality_score(scored, text_col)
            keep_pred = keep_pred & (
                F.col("clf_score") >= config.min_clf_score
            )
        return scored.filter(keep_pred)

    # r14 (guide §2.6): when the strip stage will checkpoint the
    # scrubbed survivors anyway, that materialization job and the
    # near-dup edge-collect job are INDEPENDENT — quality/language/
    # classifier filters and the PII scrub are deterministic per-row
    # maps, so they commute with the reps row-filter: scrubbing the
    # exact-unique survivors first and semi-joining the cluster reps
    # after yields byte-identical rows. Running the two jobs
    # concurrently hides the shorter one entirely (previously the
    # checkpoint could not even be PLANNED until the edge collect
    # finished). Serial fallback whenever a stage between them needs
    # the near-unique frame (span dedup / decontamination rewrite the
    # text before scoring) or per-stage audit/observe taps are on.
    overlap = (
        config.strip_boilerplate_min_docs is not None
        and not audit
        and not observe
        and config.dedup_spans_min_count is None
        and eval_set is None
    )
    if overlap:
        pre = scrub_text(
            _quality_lang_filtered(exact_unique), text_col, out_col="_scrubbed"
        ).select(id_col, "_scrubbed", "lang_pred", "quality")
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(1) as pool:
            ckpt_future = pool.submit(pre.localCheckpoint)
            clusters = _build_clusters()
            pre_ckpt = ckpt_future.result()
        reps = clusters.filter(~F.col("is_duplicate")).select(id_col)
        scrubbed = pre_ckpt.join(reps, id_col, "left_semi")
    else:
        clusters = _build_clusters()
        reps = clusters.filter(~F.col("is_duplicate")).select(id_col)
        near_unique = exact_unique.join(reps, id_col, "left_semi")
        near_unique = _tap("near_unique", near_unique)

    # 2b. optional duplicate-substring span dedup on the survivors:
    # repeated >=min_count 8-token windows are excised (single pass,
    # like the suffix-array original); docs reduced to nothing drop.
    if config.dedup_spans_min_count is not None:
        from bbdc20_submission_spark.operators.dedup import (
            duplicate_span_stats,
        )

        spans = duplicate_span_stats(
            near_unique,
            text_col,
            id_col,
            span_tokens=config.dedup_span_tokens,
            min_count=config.dedup_spans_min_count,
        )
        near_unique = (
            near_unique.drop(text_col)
            .join(
                spans.select(
                    id_col, F.col("clean_text").alias(text_col)
                ),
                id_col,
            )
            .filter(F.length(text_col) > 0)
        )
        near_unique = _tap("span_deduped", near_unique)

    # 2c. optional benchmark decontamination by REMOVAL: corpus spans
    # matching eval-set k-grams are excised (broadcast eval hash set,
    # narrow corpus window explode — the shipping form of the
    # train/test-overlap pass); docs reduced to nothing drop.
    if eval_set is not None:
        from bbdc20_submission_spark.operators.dedup import (
            decontaminate_spans,
        )

        decon = decontaminate_spans(
            near_unique, eval_set, id_col, text_col,
            k=config.decontaminate_k,
        )
        near_unique = (
            near_unique.drop(text_col)
            .join(
                decon.select(
                    id_col, F.col("clean_text").alias(text_col)
                ),
                id_col,
            )
            .filter(F.length(text_col) > 0)
        )
        near_unique = _tap("decontaminated", near_unique)

    # 3+4. quality, language, (optional) classifier, scrub: all narrow
    # maps — one projection pipeline, no shuffles between them. (The
    # overlapped path above already ran the same maps pre-reps.)
    if not overlap:
        filtered = _quality_lang_filtered(near_unique)
        filtered = _tap("quality_lang_pass", filtered)
        scrubbed = scrub_text(filtered, text_col, out_col="_scrubbed")

    # 4b. optional cross-document boilerplate strip on the scrubbed
    # text (repeated-chunk fingerprints; see operators.chunking).
    # The scrubbed survivor frame is CHECKPOINTED here: the strip
    # stage alone reads it three ways (chunk-hash detection, per-doc
    # strip, metadata re-attach) and the final chunking reads it again
    # — without the boundary the whole dedup->filter->scrub prefix
    # (two semi-joins + the narrow maps) re-executes per consumer AND
    # every consumer re-plans the full lineage (measured: 12.8s ->
    # 7.2s on the c1 certification at sf0.1; plain persist only got
    # 10.2s because AQE still re-planned the prefix under each
    # consumer). localCheckpoint = the standard post-filter
    # materialization boundary of a curation pipeline; at cluster
    # scale the same role is played by checkpointing the filtered
    # corpus to the object store (non-local checkpoint/write-out).
    if config.strip_boilerplate_min_docs is not None:
        from bbdc20_submission_spark.operators.chunking import (
            boilerplate_hashes,
            hashed_chunks,
            strip_boilerplate,
        )

        # project to exactly what downstream reads (id, scrubbed text,
        # the two metadata columns that ride the chunk explode) BEFORE
        # materializing: the original text column is dead after scrub,
        # and checkpointing it would double the write and every
        # post-checkpoint scan. (The overlapped path checkpointed the
        # same projection already, concurrently with the edge collect;
        # its reps semi-join on top is a cheap cached-spine join.)
        if not overlap:
            scrubbed = scrubbed.select(
                id_col, "_scrubbed", "lang_pred", "quality"
            ).localCheckpoint()
        bp_input = scrubbed.select(id_col, F.col("_scrubbed").alias(text_col))
        # detection and removal share ONE persisted hashed-chunk frame:
        # the chunk explode + md5 over the corpus runs once, not twice
        # (the persist trades a write for a full second explode pass —
        # at any scale the detection agg and the strip join both read
        # the same bytes back instead of recomputing them)
        bp_chunks = managed_persist(
            hashed_chunks(bp_input, text_col, id_col, config.chunk_tokens)
        )
        flagged = boilerplate_hashes(
            bp_input,
            text_col,
            id_col,
            chunk_tokens=config.chunk_tokens,
            min_docs=config.strip_boilerplate_min_docs,
            chunks=bp_chunks,
        )
        stripped = strip_boilerplate(
            bp_input,
            flagged,
            text_col,
            id_col,
            chunk_tokens=config.chunk_tokens,
            chunks=bp_chunks,
        )
        scrubbed = (
            scrubbed.drop("_scrubbed")
            .join(
                stripped.select(
                    id_col, F.col(f"{text_col}_clean").alias("_scrubbed")
                ),
                id_col,
            )
            # a doc that was pure boilerplate is empty now — drop it
            # rather than emit a single empty chunk
            .filter(F.length("_scrubbed") > 0)
        )
        scrubbed = _tap("boilerplate_stripped", scrubbed)

    # 5. chunking on the scrubbed text. The doc-level metadata columns
    # ride THROUGH the explode (keep_cols) — re-attaching them with a
    # join back on the id would be a corpus-sized shuffle AND would
    # re-execute the whole dedup->filter->scrub prefix a second time
    # under the metadata side (measured ~2.8s of the sf0.1 DAG when
    # the strip checkpoint is off).
    chunks = chunk_by_tokens(
        scrubbed.select(
            id_col, F.col("_scrubbed").alias(text_col), "lang_pred", "quality"
        ),
        text_col,
        id_col,
        chunk_tokens=config.chunk_tokens,
        overlap=config.chunk_overlap,
        keep_cols=("lang_pred", "quality"),
    )
    chunks = _tap("chunks", chunks)

    # 6. deterministic per-language sampling (id = (doc, chunk) via a
    # derived synthetic id so chunk membership is also reproducible).
    # Either fixed per-stratum fractions or target-mixture resampling.
    modes = [
        m
        for m in (
            config.sample_fractions,
            config.mixture_weights,
            config.token_budgets,
        )
        if m is not None and m != {}
    ]
    if len(modes) > 1:
        raise ValueError(
            "sample_fractions, mixture_weights, and token_budgets are"
            " mutually exclusive"
        )
    if modes:
        chunks = chunks.withColumn(
            "_cid", F.xxhash64(F.col(id_col), F.col("chunk_id"))
        )
        if config.sample_fractions:
            chunks = stratified_sample(
                chunks,
                "lang_pred",
                config.sample_fractions,
                id_col="_cid",
                seed=config.sample_seed,
            )
        elif config.mixture_weights:
            from bbdc20_submission_spark.operators.sampling import (
                mixture_sample,
            )

            chunks = mixture_sample(
                chunks,
                "lang_pred",
                config.mixture_weights,
                total_fraction=config.mixture_total_fraction,
                id_col="_cid",
                seed=config.sample_seed,
            )
        else:
            from bbdc20_submission_spark.operators.sampling import (
                token_budget_sample,
            )

            chunks = token_budget_sample(
                chunks,
                "lang_pred",
                config.token_budgets,
                tokens_col="n_tokens",
                id_col="_cid",
                seed=config.sample_seed,
            )
        chunks = chunks.drop("_cid")
    chunks = _tap("sampled", chunks)
    return chunks, counts


def observed_counts(observations: dict) -> dict[str, int]:
    """Resolve the Observation handles ``curate(observe=True)``
    returned into plain stage counts. Call AFTER an action on the
    curated frame (the observations fire with that action)."""
    return {k: int(ob.get["n"]) for k, ob in observations.items()}
