#!/usr/bin/env python
"""Scaling probe: replicate the sf0.1 tables Nx (shifted keys/ts so
cardinalities grow too) and measure headline-operator wall-clock at
1x/4x/16x. Writes SCALING.md. Run: python scripts/scale_probe.py"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bbdc20_submission_spark import get_spark, registry
from bbdc20_submission_spark.sources.harness import load_table

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/scale_probe"
FACTORS = [1, 4, 16]
REPS = int(os.environ.get("SCALE_PROBE_REPS", "2"))
# Run factors can be restricted (e.g. SCALE_PROBE_FACTORS=16) so one
# invocation fits a wall-clock budget; per-factor results accumulate in
# RESULTS_JSON and SCALING.md regenerates once all FACTORS are present.
RUN_FACTORS = [
    int(x)
    for x in os.environ.get(
        "SCALE_PROBE_FACTORS", ",".join(map(str, FACTORS))
    ).split(",")
]
RESULTS_JSON = f"{WORK}/results.json"
# Sections can be restricted (e.g. SCALE_PROBE_SECTIONS=refine) so a
# follow-up invocation measures only a newly added probe family
# without re-running the whole matrix.
SECTIONS = set(
    os.environ.get(
        "SCALE_PROBE_SECTIONS",
        "queries,ext,stream,refine,text64,sim64,media,stream64",
    ).split(",")
)
# Individual operators can be re-measured (e.g. after a run that
# overlapped other load) without re-running a whole section:
# SCALE_PROBE_OPS=d12_dedup_clusters,d9_simhash_near_dups
OPS = {
    x for x in os.environ.get("SCALE_PROBE_OPS", "").split(",") if x
}


def _want(name: str) -> bool:
    return not OPS or name in OPS


# the two-level-quantization probe replicates EMBEDDINGS ONLY at its
# own (wider) factor ladder — the table is tiny, so 64x is cheap
REFINE_FACTORS = [1, 16, 64]
QUERIES = [
    "w6_sessionize_rle",
    "w9_j3_context_stats",
    "a2_grouped_stats_q1",
    "j1_equi_join_revenue",
    "d1_exact_dedup",
    "d8_minhash_lsh",
    "d9_simhash_near_dups",
    "d12_dedup_clusters",
    "s_topk_suite",
    "d5_token_fingerprint",
    "d2_text_quality",
    "d4_language_id",
    "r_ranking_suite",
    "s4_kmeans_clusters",
    # r8: snapshot diff + LSH rename matching — the rename pass pays
    # only for the churn (~3/13 of the corpus by the %13 derivation),
    # so the ratio must stay at-worst linear in corpus size
    "c2_corpus_diff",
    # r8: the ingest-certification suite (portable-signature
    # incremental dedup over a ~30% corpus slice + planted families);
    # its cost is dominated by the flow's fixed job count, so the
    # ratio should read strongly sub-linear
    "d7_ngram_jaccard",
]


def replicate(spark, factor: int) -> str:
    out = f"{WORK}/x{factor}"
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    for t in ["events", "documents", "embeddings", "lineitem", "orders",
              "customer", "nation", "region", "supplier", "part"]:
        df = load_table(spark, t, BASE)
        if factor == 1:
            rep = df
        else:
            copies = F.explode(F.array(*[F.lit(i) for i in range(factor)]))
            rep = df.withColumn("_c", copies)
            # shift ids so key cardinality scales with data volume
            for c, mult in {
                "event_id": 10_000_000, "user_id": 1_000, "doc_id": 10_000_000,
                "vec_id": 10_000_000, "o_orderkey": 10_000_000,
                "l_orderkey": 10_000_000, "c_custkey": 10_000_000,
            }.items():
                if c in rep.columns:
                    rep = rep.withColumn(c, F.col(c) + F.col("_c") * mult)
            if "ts" in rep.columns:
                rep = rep.withColumn(
                    "ts", F.timestamp_micros(
                        F.unix_micros("ts") + F.col("_c") * F.lit(3_600_000_000))
                )
            if t == "documents":
                # duplicate-FREE replication: suffix every token with the
                # replica id so no cross-replica shingle matches — scaled
                # runs then measure the input-proportional signature+band
                # stages, not an artificially 16x-duplicated corpus (the
                # duplicated-corpus cost model is covered by the
                # hot-bucket cap test instead)
                rep = rep.withColumn(
                    "text",
                    F.expr(
                        "concat(regexp_replace(text, ' ', concat('_', _c, ' ')), '_', _c)"
                    ),
                )
            rep = rep.drop("_c")
        rep.write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def main() -> None:
    import json

    spark = get_spark("scale-probe")
    registry.load_all()

    from bbdc20_submission_spark.operators.ranking import bm25_score
    from bbdc20_submission_spark.plans.curation import curate

    from bbdc20_submission_spark.plans.curation import CurationConfig

    def _curate(spark, d):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        out, _ = curate(docs)
        return out

    def _curate_strip(spark, d):
        # the certified c1 configuration (boilerplate strip + source
        # blocklist + quality-keeper reselection on). The replicas keep
        # the source column verbatim, so the blocklist rejects the same
        # 5% at every factor.
        docs = spark.read.parquet(
            os.path.join(d, "documents.parquet")
        ).withColumn("doc_len", F.length("text"))
        out, _ = curate(
            docs,
            CurationConfig(
                strip_boilerplate_min_docs=2,
                blocked_sources=("src19",),
                keeper_score_col="doc_len",
            ),
        )
        return out

    def _span_dedup(spark, d):
        # substring span dedup standalone (the suffix-array stand-in);
        # replicas keep within-replica exact-dup docs, so the dup-window
        # population scales with the corpus
        from bbdc20_submission_spark.operators.dedup import (
            duplicate_span_stats,
        )

        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        return duplicate_span_stats(docs)

    def _bm25(spark, d):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        return bm25_score(docs, ["the", "data", "model", "quick"])

    def _incremental(spark, d):
        # the daily-ingest shape: index the lower half of the corpus
        # (per replica id ranges, so the index grows with the factor),
        # dedup the upper half against it + within itself. Timed as
        # one unit — index build + batch dedup are both per-day costs.
        from bbdc20_submission_spark.operators.incremental import (
            build_dedup_index,
            incremental_dedup,
        )

        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        mid = docs.approxQuantile("doc_id", [0.5], 0.001)[0]
        hist = docs.filter(F.col("doc_id") < mid)
        batch = docs.filter(F.col("doc_id") >= mid)
        kept, _ = incremental_dedup(batch, build_dedup_index(hist))
        return kept.select("doc_id")

    def _incremental_semantic(spark, d):
        # embedding-side daily ingest: index the lower-id half of the
        # replicated embeddings under one pre-fit quantizer, dedup the
        # upper half against it + within itself. Quantizer fit + index
        # build + batch dedup all timed — the full per-day cost.
        from bbdc20_submission_spark.operators.clustering import (
            fit_quantizer,
        )
        from bbdc20_submission_spark.operators.incremental import (
            build_semantic_index,
            incremental_semantic_dedup,
        )
        from bbdc20_submission_spark.sources.harness import (
            table_column_max,
            table_row_count,
        )

        em = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        # footer stats can be unreadable (helper's documented None
        # case) — fall back to a real max() job rather than mid=0,
        # which would empty the history and crash the quantizer fit
        mx = table_column_max("embeddings", "vec_id", d)
        if mx is None:
            mx = em.agg(F.max("vec_id")).first()[0] or 0
        mid = mx // 2
        hist = em.filter(F.col("vec_id") < mid)
        batch = em.filter(F.col("vec_id") >= mid)
        n = table_row_count("embeddings", d) or 2048
        model = fit_quantizer(
            hist, k=max(8, n // 128), max_iter=5, fit_fraction=0.5,
            approx_n=n // 2,
        )
        kept, _ = incremental_semantic_dedup(
            batch, build_semantic_index(hist, model), model, threshold=0.95
        )
        return kept.select("vec_id")

    EXT = {
        "curation_dag": _curate,
        "curation_dag_strip": _curate_strip,
        "bm25_score": _bm25,
        "duplicate_span_stats": _span_dedup,
        "incremental_dedup": _incremental,
        "incremental_semantic_dedup": _incremental_semantic,
    }

    # ---- streaming forms: each callable RUNS an availableNow stream
    # to completion (foreachBatch / noop sink), so they are timed as a
    # unit rather than via the lazy-noop-write path. Fresh checkpoint/
    # output dirs per rep (a checkpoint replays nothing on a reused
    # dir, which would time a no-op).
    import shutil
    import uuid

    def _fresh(tag: str) -> str:
        p = os.path.join(WORK, "stream", f"{tag}-{uuid.uuid4().hex[:8]}")
        os.makedirs(p, exist_ok=True)
        return p

    # stream_curate staging (r10): the replicas write documents as ONE
    # parquet file, so the r9 probe's maxFilesPerTrigger=8 produced
    # exactly ONE trigger at every factor — and an 11MB file is a
    # single input split (maxPartitionBytes=128MB), so the whole 16x
    # micro-batch ran its stateless map on ONE core of 32. That
    # single-task artifact was the measured 12.8x tail, not trigger
    # overhead. Production corpora arrive as many files; stage the
    # factor's documents ONCE as 8*factor files so (a) a constant
    # 8-file budget reproduces the naive fixed-budget regime (trigger
    # count grows with volume, per-trigger work constant) and (b) a
    # volume-scaled budget (factor files/trigger) holds the trigger
    # count at 8 while per-trigger volume AND split parallelism grow
    # with the corpus — the shape a production stream actually runs
    # (fixed cadence, cluster sized to arrival volume).
    def _curate_staged(spark, d: str) -> tuple[str, int]:
        factor = int(os.path.basename(d.rstrip("/")).lstrip("x"))
        staged = os.path.join(d, "curate-staged")
        if not os.path.exists(os.path.join(staged, "_SUCCESS")):
            spark.read.parquet(
                os.path.join(d, "documents.parquet")
            ).repartition(8 * factor).write.mode("overwrite").parquet(staged)
        return staged, factor

    def _stream_curate_budget(spark, d, files_per_trigger: int, tag: str):
        from bbdc20_submission_spark.streaming.curation import stream_curate

        staged, _ = _curate_staged(spark, d)
        schema = spark.read.parquet(staged).schema
        rd = _fresh("curate")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(files_per_trigger))
            .parquet(staged)
        )
        q = (
            stream_curate(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", os.path.join(rd, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # per-trigger decomposition: n triggers, rows, and where the
        # wall went (triggerExecution ~= total; addBatch = plan run)
        prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        store.setdefault("stream_detail", {}).setdefault(tag, {})[
            str(_factor_of(d))
        ] = {
            "triggers": len(prog),
            "rows": sum(p["numInputRows"] for p in prog),
            "trigger_ms": [p["durationMs"].get("triggerExecution") for p in prog],
            "add_batch_ms": [p["durationMs"].get("addBatch") for p in prog],
        }
        shutil.rmtree(rd, ignore_errors=True)

    def _factor_of(d: str) -> int:
        return int(os.path.basename(d.rstrip("/")).lstrip("x"))

    def _stream_curate_run(spark, d):
        # naive fixed budget: 8 files/trigger over 8*factor staged
        # files -> trigger count grows with volume, per-trigger work
        # constant — isolates the fixed per-trigger cost
        _stream_curate_budget(spark, d, 8, "stream_curate")

    def _stream_curate_scaled_run(spark, d):
        # volume-scaled budget: factor files/trigger -> constant 8
        # triggers, per-trigger volume and split parallelism grow with
        # the corpus — the production shape
        _stream_curate_budget(spark, d, _factor_of(d), "stream_curate_scaled")

    def _stream_semantic_run(spark, d):
        # streaming twin of _incremental_semantic: lower-id half is
        # the history (quantizer fit + index build timed, same as the
        # batch row), upper half arrives as a file-source stream in
        # multiple micro-batches; each batch dedups against the index
        # + earlier admissions via the foreachBatch form.
        from bbdc20_submission_spark.operators.clustering import (
            fit_quantizer,
        )
        from bbdc20_submission_spark.operators.incremental import (
            build_semantic_index,
            stream_incremental_semantic_dedup,
        )
        from bbdc20_submission_spark.sources.harness import (
            table_column_max,
            table_row_count,
        )

        em = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        mx = table_column_max("embeddings", "vec_id", d)
        if mx is None:
            mx = em.agg(F.max("vec_id")).first()[0] or 0
        mid = mx // 2
        hist = em.filter(F.col("vec_id") < mid)
        # stage the arriving half ONCE per factor as 8 files -> 8
        # micro-batches (staging is plumbing, not ingest work: untimed)
        # NOT underscore-prefixed: Spark's file index treats _-prefixed
        # dirs as hidden metadata and warns/ignores on listing
        staged = os.path.join(d, "sem-staged")
        if not os.path.exists(os.path.join(staged, "_SUCCESS")):
            em.filter(F.col("vec_id") >= mid).repartition(8).write.mode(
                "overwrite"
            ).parquet(staged)
        rd = _fresh("semantic")
        n = table_row_count("embeddings", d) or 2048
        model = fit_quantizer(
            hist, k=max(8, n // 128), max_iter=5, fit_fraction=0.5,
            approx_n=n // 2,
        )
        index_path = os.path.join(rd, "index")
        build_semantic_index(hist, model).write.parquet(index_path)
        schema = spark.read.parquet(staged).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged)
        )
        q = (
            stream_incremental_semantic_dedup(
                stream,
                index_path,
                os.path.join(rd, "kept"),
                os.path.join(rd, "ckpt"),
                model,
                threshold=0.95,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shutil.rmtree(rd, ignore_errors=True)

    def _stream_text_compact_run(spark, d):
        # r11 (VERDICT #6): the TEXT ingest stream with automatic index
        # compaction ON — seed the lower-id half as history, stream the
        # upper half in 16 micro-batches (1 file/trigger), exactly-once
        # layout, compact_every_n_batches=4. The claim under test: the
        # per-batch wall stays FLAT across batches because the as-of
        # index read folds old partitions instead of re-listing one
        # partition dir per batch forever. Per-batch durations land in
        # stream_detail for the flatness check.
        from bbdc20_submission_spark.operators.incremental import (
            build_dedup_index,
            seed_ingest_index,
            stream_incremental_dedup,
        )

        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        mid = docs.approxQuantile("doc_id", [0.5], 0.001)[0]
        hist = docs.filter(F.col("doc_id") < mid)
        staged = os.path.join(d, "ingest-staged16")
        if not os.path.exists(os.path.join(staged, "_SUCCESS")):
            docs.filter(F.col("doc_id") >= mid).repartition(16).write.mode(
                "overwrite"
            ).parquet(staged)
        rd = _fresh("textcompact")
        index_path = os.path.join(rd, "index")
        seed_ingest_index(build_dedup_index(hist), index_path)
        schema = spark.read.parquet(staged).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged)
        )
        q = stream_incremental_dedup(
            stream,
            index_path,
            os.path.join(rd, "kept"),
            os.path.join(rd, "ckpt"),
            exactly_once=True,
            compact_every_n_batches=4,
        ).trigger(availableNow=True).start()
        q.awaitTermination()
        prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        store.setdefault("stream_detail", {}).setdefault(
            "stream_incremental_dedup_compact", {}
        )[str(_factor_of(d))] = {
            "triggers": len(prog),
            "rows": sum(p["numInputRows"] for p in prog),
            "trigger_ms": [
                p["durationMs"].get("triggerExecution") for p in prog
            ],
        }
        shutil.rmtree(rd, ignore_errors=True)

    STREAM = {
        "stream_curate": _stream_curate_run,
        "stream_curate_scaled": _stream_curate_scaled_run,
        "stream_incremental_semantic_dedup": _stream_semantic_run,
        "stream_incremental_dedup_compact": _stream_text_compact_run,
    }

    # ---- two-level quantization probe (embeddings only, 1x/16x/64x).
    # n_clusters is FIXED at 16 — the regime the auto-k clamp creates
    # past ~20M vectors (expected cell size grows linearly with n).
    # refine=True splits the over-full cells with real sub-centroids,
    # so the pair volume — and the wall clock — must stay linear in n
    # where a fixed k without refinement measured 9x wall on 4x data
    # (r6). Replicas duplicate vectors verbatim (shifted ids), so the
    # corpus also carries genuine exact-dup sets whose pruned output
    # grows linearly.
    def replicate_embeddings(spark, factor: int) -> str:
        out = f"{WORK}/emb-x{factor}"
        if os.path.exists(os.path.join(out, "_DONE")):
            return out
        os.makedirs(out, exist_ok=True)
        df = load_table(spark, "embeddings", BASE)
        if factor > 1:
            copies = F.explode(F.array(*[F.lit(i) for i in range(factor)]))
            df = (
                df.withColumn("_c", copies)
                .withColumn(
                    "vec_id", F.col("vec_id") + F.col("_c") * 10_000_000
                )
                .drop("_c")
            )
        df.write.mode("overwrite").parquet(
            os.path.join(out, "embeddings.parquet")
        )
        open(os.path.join(out, "_DONE"), "w").close()
        return out

    def _sem_refine(spark, d):
        from bbdc20_submission_spark.operators.clustering import (
            semantic_dedup,
        )

        em = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        n = em.count()
        return semantic_dedup(
            em, threshold=0.95, n_clusters=16, approx_n=n, refine=True
        )

    # ---- text-dedup family at 64x (r10, deferred from r8/r9 advice):
    # documents replicated ALONE on the wider 1x/16x/64x ladder —
    # d8/d9/d12/c1 read only the documents table, and the full-replica
    # ladder stops at 16x, so the next scale octave was unmeasured.
    # Same duplicate-free salting as replicate(): per-replica token
    # suffixes keep within-replica jaccard structure byte-identical to
    # the base corpus while no cross-replica shingle ever matches, so
    # the true near-dup pair population is exactly factor x base.
    def replicate_documents(spark, factor: int) -> str:
        out = f"{WORK}/docs-x{factor}"
        if os.path.exists(os.path.join(out, "_DONE")):
            return out
        os.makedirs(out, exist_ok=True)
        df = load_table(spark, "documents", BASE)
        if factor > 1:
            copies = F.explode(F.array(*[F.lit(i) for i in range(factor)]))
            df = (
                df.withColumn("_c", copies)
                .withColumn(
                    "doc_id", F.col("doc_id") + F.col("_c") * 10_000_000
                )
                .withColumn(
                    "text",
                    F.expr(
                        "concat(regexp_replace(text, ' ', concat('_', _c, ' ')), '_', _c)"
                    ),
                )
                .drop("_c")
            )
        # spread across 32 files so the single-file base corpus does
        # not serialize the 64x scan onto a handful of input splits
        df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )
        open(os.path.join(out, "_DONE"), "w").close()
        return out

    D9_BUDGET = 17  # the literal d9_simhash_near_dups passes

    def _d9_budget_probe(spark, d: str, base_list: list, factor: int) -> dict:
        """Re-derive the d9 hamming budget at this factor from GROUND
        TRUTH: the true pair set is the brute-forced base pairs
        translated into every replica (duplicate-free salting keeps
        within-replica jaccard byte-identical to the base corpus), so
        the true-pair hamming DISTRIBUTION is computable directly from
        the fingerprints — ``within_budget`` is the number the
        candidate stage must find (pigeonhole guarantees pairs only up
        to the budget), and ``true_max_hamming`` shows how close the
        corpus tail sits to (or past) the budget at this scale. d9's
        output is exact-jaccard-verified (a SUBSET of truth by
        construction), so ``found == within_budget`` proves the
        candidate stage is exactly budget-complete — any gap to
        ``expected`` is the beyond-budget tail, not a machinery
        loss."""
        from bbdc20_submission_spark.operators.dedup import (
            hashed_shingle_sets,
            simhash_sets_df,
        )

        found = registry.QUERIES["d9_simhash_near_dups"](spark, d).count()
        d8_found = registry.QUERIES["d8_minhash_lsh"](spark, d).count()
        truth = spark.createDataFrame(
            [
                (a + r * 10_000_000, b + r * 10_000_000)
                for a, b in base_list
                for r in range(factor)
            ],
            "id_a long, id_b long",
        )
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        fp = simhash_sets_df(hashed_shingle_sets(docs, shingle_k=3))
        row = (
            F.broadcast(truth)
            .join(fp.selectExpr("_id AS id_a", "_fp AS fp_a"), "id_a")
            .join(fp.selectExpr("_id AS id_b", "_fp AS fp_b"), "id_b")
            .selectExpr("bit_count(fp_a ^ fp_b) AS h")
            .agg(
                F.count("*").alias("n"),
                F.max("h").alias("true_max"),
                F.sum(
                    F.when(F.col("h") <= D9_BUDGET, 1).otherwise(0)
                ).alias("within"),
            )
            .first()
        )
        assert row["n"] == len(base_list) * factor, (
            f"truth join lost pairs: {row['n']} of {len(base_list) * factor}"
        )
        return {
            "found": found,
            "expected": len(base_list) * factor,
            "within_budget": row["within"],
            "true_max_hamming": row["true_max"],
            "d8_found": d8_found,
        }

    def _brute_force_base_pairs() -> list:
        """DuckDB brute-force jaccard >= 0.5 PAIR LIST over the BASE
        corpus (the d8/d9 oracle formula verbatim) — the ground truth
        the per-factor true sets translate from. One-time, untimed,
        cached in results.json."""
        import duckdb

        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{BASE}/documents.parquet')"
        )
        return [
            [int(a), int(b)]
            for a, b in con.sql(
                """
            WITH toks AS MATERIALIZED (
                SELECT doc_id, str_split(text, ' ') AS t FROM documents
            ),
            sh AS MATERIALIZED (
                SELECT doc_id,
                       list_distinct([array_to_string(t[i:i+2], ' ')
                                      for i in generate_series(1, greatest(len(t)-2, 1))]) AS s
                FROM toks
            )
            SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE round(len(list_filter(a.s, x -> list_contains(b.s, x)))
                        / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5
            """
            ).fetchall()
        ]

    TEXT64_FACTORS = [1, 16, 64]
    # like RUN_FACTORS for the text64 ladder: restrict one invocation
    # to a subset (e.g. TEXT64_RUN_FACTORS=64) so a heavy op fits a
    # wall-clock budget; results accumulate per factor in results.json
    TEXT64_RUN_FACTORS = [
        int(x)
        for x in os.environ.get(
            "TEXT64_RUN_FACTORS", ",".join(map(str, TEXT64_FACTORS))
        ).split(",")
    ]
    TEXT64_QUERIES = [
        "d8_minhash_lsh",
        "d9_simhash_near_dups",
        "d12_dedup_clusters",
        "c1_curation_dag",
        # d2/d4 ride this ladder for the FILE-LAYOUT contrast too: the
        # main replicas write documents as ONE parquet file, so any
        # query whose heavy stage is a pre-shuffle narrow map (d2's
        # Arrow repetition scan, d4's n-gram scorer) runs that stage
        # on ONE core there — the 32-file staging here shows the same
        # operators parallelizing on a production-shaped layout
        "d2_text_quality",
        "d4_language_id",
        # r11 (VERDICT #4): the remaining heavy text families at the
        # 64x octave — d5 (token fingerprint + span dedup + decon)
        # and d7 (the full portable-ingest certification suite) both
        # read only documents, so they ride the same ladder
        "d5_token_fingerprint",
        "d7_ngram_jaccard",
    ]

    def _d9_auto_guard(spark, d):
        # the d9 composition with the r11 AUTO hot-bucket guard
        # (exact_hot_buckets=None): identical to d9 at 1x/16x (no hot
        # buckets, guard picks exact), degrades to the bounded
        # O(n*cap) plan at 64x where exact mode measured 155 s — this
        # row IS the SCALING note for the bounded-mode 64x wall
        from bbdc20_submission_spark.caching import managed_persist
        from bbdc20_submission_spark.operators.dedup import (
            hamming_near_pairs,
            hashed_shingle_sets,
            jaccard_pairs,
            simhash_sets_df,
        )

        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        sets = managed_persist(hashed_shingle_sets(docs, shingle_k=3))
        fp = managed_persist(simhash_sets_df(sets))
        cands = hamming_near_pairs(fp, max_hamming=17).select("id_a", "id_b")
        return jaccard_pairs(
            docs, cands, shingle_k=3, min_jaccard=0.5,
            broadcast_sets=True, sets=sets,
        ).filter(F.col("jaccard") >= 0.5)

    store = {"queries": {}, "ext": {}, "stream": {}, "refine": {}, "rows": {}}
    if os.path.exists(RESULTS_JSON):
        store = json.load(open(RESULTS_JSON))
        store.setdefault("stream", {})
        store.setdefault("refine", {})
    store.setdefault("text64", {})
    store.setdefault("d9_budget", {})

    def _measure(build):
        best = None
        for _ in range(REPS):  # min-of-REPS: singles ride load noise
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            build().write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2)

    main_sections = SECTIONS & {"queries", "ext", "stream"}
    for f in RUN_FACTORS if main_sections else []:
        d = replicate(spark, f)
        # warm the page cache: the replicas may have just been written,
        # and a cold first read would be charged to the first query
        for t in ["events", "documents", "embeddings", "lineitem", "orders"]:
            spark.read.parquet(os.path.join(d, f"{t}.parquet")).count()
        store["rows"][str(f)] = spark.read.parquet(
            os.path.join(d, "events.parquet")
        ).count()

        if "queries" in SECTIONS:
            for q in QUERIES:
                if not _want(q):
                    continue
                t = _measure(lambda: registry.QUERIES[q](spark, d))
                store["queries"].setdefault(q, {})[str(f)] = t
                print(f, q, t, flush=True)
        if "ext" in SECTIONS:
            for q, fn in EXT.items():
                if not _want(q):
                    continue
                t = _measure(lambda: fn(spark, d))
                store["ext"].setdefault(q, {})[str(f)] = t
                print(f, q, t, flush=True)

        def _measure_run(run):
            best = None
            for _ in range(REPS):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                run(spark, d)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 2)

        if "stream" in SECTIONS:
            for q, fn in STREAM.items():
                if not _want(q):
                    continue
                t = _measure_run(fn)
                store["stream"].setdefault(q, {})[str(f)] = t
                print(f, q, t, flush=True)
        json.dump(store, open(RESULTS_JSON, "w"))

    if "refine" in SECTIONS:
        for f in REFINE_FACTORS:
            if not _want("semantic_dedup_refine_k16"):
                continue
            d = replicate_embeddings(spark, f)
            spark.read.parquet(os.path.join(d, "embeddings.parquet")).count()
            t = _measure(lambda: _sem_refine(spark, d))
            store["refine"].setdefault("semantic_dedup_refine_k16", {})[
                str(f)
            ] = t
            print(f, "semantic_dedup_refine_k16", t, flush=True)
        json.dump(store, open(RESULTS_JSON, "w"))

    if "text64" in SECTIONS:
        if "base_pair_list" not in store["d9_budget"]:
            store["d9_budget"]["base_pair_list"] = _brute_force_base_pairs()
            print(
                "base true pairs:",
                len(store["d9_budget"]["base_pair_list"]),
                flush=True,
            )
        base_list = [tuple(p) for p in store["d9_budget"]["base_pair_list"]]
        for f in TEXT64_RUN_FACTORS:
            d = replicate_documents(spark, f)
            spark.read.parquet(os.path.join(d, "documents.parquet")).count()
            for q in TEXT64_QUERIES:
                if not _want(q):
                    continue
                t = _measure(lambda: registry.QUERIES[q](spark, d))
                store["text64"].setdefault(q, {})[str(f)] = t
                print(f, q, t, flush=True)
            if _want("d9_auto_guard"):
                import warnings as _warnings

                # one execution per rep yields BOTH wall and (from the
                # last rep) the found count — the old form ran the
                # heaviest 64x cell one extra time (r13, the same fix
                # as s3_planes_scaled)
                with _warnings.catch_warnings():
                    _warnings.simplefilter("ignore")  # expected at 64x
                    best, found = None, None
                    for _ in range(REPS):
                        spark.catalog.clearCache()
                        t0 = time.perf_counter()
                        found = _d9_auto_guard(spark, d).count()
                        dt = time.perf_counter() - t0
                        best = dt if best is None else min(best, dt)
                    t = round(best, 2)
                    store["text64"].setdefault("d9_auto_guard", {})[
                        str(f)
                    ] = t
                store["d9_budget"].setdefault("auto_found", {})[str(f)] = found
                print(f, "d9_auto_guard", t, "found", found, flush=True)
            if _want("d9_simhash_near_dups"):
                store["d9_budget"][str(f)] = _d9_budget_probe(
                    spark, d, base_list, f
                )
                print(f, "d9_budget", store["d9_budget"][str(f)], flush=True)
            json.dump(store, open(RESULTS_JSON, "w"))

    # ---- similarity family on the embeddings 64x ladder (r12,
    # VERDICT #1): s_topk/s5 ride the verbatim-duplication ladder
    # (their top-k output is fixed-size, so dup families only shape
    # the ranking); s3 emits PAIRS, so verbatim duplication would make
    # its output itself quadratic in the factor — it rides a
    # PERMUTATION-salted ladder instead: replica r's vectors get one
    # shared random permutation of their 64 dims, which preserves
    # every within-replica cosine EXACTLY (dot products are invariant
    # under a common permutation — the embedding analog of the text
    # ladder's per-replica token salting) while cross-replica cosines
    # fall back to the i.i.d. background (~0.5 max, far below the 0.9
    # threshold). Replica 0 keeps the identity permutation, so the
    # planted-pair construction (vec_id < 8) is byte-identical to the
    # certified corpus.
    SIM64_FACTORS = REFINE_FACTORS
    SIM64_RUN_FACTORS = [
        int(x)
        for x in os.environ.get(
            "SIM64_RUN_FACTORS", ",".join(map(str, SIM64_FACTORS))
        ).split(",")
    ]

    def replicate_embeddings_perm(spark, factor: int) -> str:
        import random as _random

        out = f"{WORK}/emb-perm-x{factor}"
        if os.path.exists(os.path.join(out, "_DONE")):
            return out
        os.makedirs(out, exist_ok=True)
        base = load_table(spark, "embeddings", BASE)
        parts = []
        for r in range(factor):
            if r == 0:
                perm = list(range(64))
            else:
                perm = _random.Random(1234 + r).sample(range(64), 64)
            parts.append(
                base.select(
                    (F.col("vec_id") + F.lit(r * 10_000_000)).alias("vec_id"),
                    F.array(
                        *[F.col("embedding").getItem(int(p)) for p in perm]
                    ).alias("embedding"),
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(max(4, factor)).write.mode("overwrite").parquet(
            os.path.join(out, "embeddings.parquet")
        )
        open(os.path.join(out, "_DONE"), "w").close()
        return out

    def _s3_planes_scaled(spark, d):
        # the s3 composition with the signature SIZED to the corpus
        # (n_planes ~ log2(n / target_occupancy)): the certified
        # 8-plane signature leaves only 256 buckets/band, so candidate
        # volume grows ~n^2 * bands / 256 even on i.i.d. data — the
        # structural super-linear term the s3 64x row exposes. 14
        # planes restore ~8 members/bucket at 128k vectors; 8 bands
        # hold planted-pair recall (p ~ 0.9936 at cosine 0.9998 ->
        # p^14 ~ 0.91 per band, miss ~ (1-0.91)^8 ~ 4e-9).
        from bbdc20_submission_spark.operators.similarity import (
            embedding_near_dups,
        )

        em = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        base = em.select("vec_id", v.alias("embedding"))
        off = (em.agg(F.max("vec_id")).first()[0] or 0) + 1
        planted = base.filter(F.col("vec_id") < 8).select(
            (F.col("vec_id") + F.lit(off)).alias("vec_id"),
            F.zip_with(
                F.col("embedding"),
                F.reverse("embedding"),
                lambda x, y: x * 0.98 + y * 0.02,
            ).alias("embedding"),
        )
        aug = base.unionByName(planted)
        return embedding_near_dups(
            aug, threshold=0.9, n_planes=14, dim=64, n_bands=8
        )

    if "sim64" in SECTIONS:
        store.setdefault("sim64", {})
        for f in SIM64_RUN_FACTORS:
            d = replicate_embeddings(spark, f)
            spark.read.parquet(os.path.join(d, "embeddings.parquet")).count()
            # s4 rides this ladder too (r13, VERDICT #3): it reads only
            # the embeddings table, and 16x (6.3x, the steepest registry
            # row) was its last measured octave
            for q in ["s_topk_suite", "s5_ivf_topk", "s4_kmeans_clusters"]:
                if not _want(q):
                    continue
                t = _measure(lambda: registry.QUERIES[q](spark, d))
                store["sim64"].setdefault(q, {})[str(f)] = t
                print(f, "sim64", q, t, flush=True)
            dp = replicate_embeddings_perm(spark, f)
            spark.read.parquet(os.path.join(dp, "embeddings.parquet")).count()
            if _want("s3_embedding_near_dups"):
                t = _measure(
                    lambda: registry.QUERIES["s3_embedding_near_dups"](
                        spark, dp
                    )
                )
                store["sim64"].setdefault("s3_embedding_near_dups", {})[
                    str(f)
                ] = t
                print(f, "sim64", "s3_embedding_near_dups", t, flush=True)
            if _want("s3_planes_scaled"):
                # one execution per rep yields BOTH the wall time and
                # (from the last rep's collected rows — the pair set is
                # tiny) the planted-recall count; the previous form ran
                # the most expensive sim64 probe twice per factor (r12
                # advice).
                best, rows = None, []
                for _ in range(REPS):
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    rows = _s3_planes_scaled(spark, dp).collect()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                t = round(best, 2)
                store["sim64"].setdefault("s3_planes_scaled", {})[str(f)] = t
                # recall record: the 8 planted pairs are the only true
                # pairs >= 0.9 on the perm-salted corpus; verify the
                # sized signature recovered them all
                n_planted = sum(1 for r in rows if r["cosine_sim"] >= 0.99)
                store["sim64"].setdefault("s3_planes_scaled_planted", {})[
                    str(f)
                ] = n_planted
                print(
                    f, "sim64", "s3_planes_scaled", t,
                    "planted_found", n_planted, flush=True,
                )
            json.dump(store, open(RESULTS_JSON, "w"))

    # ---- media (perceptual dHash) ladder (r12, VERDICT #4): the
    # multimodal family's first scaling rows. Payloads are UNIQUE per
    # blob (sha2-derived bytes — the dup-free ladder convention), so
    # the rows measure decode + fingerprint + multi-index join
    # machinery, not an output-volume artifact; the mass-duplication
    # regime is pinned by test_hamming_bounded_plan_connects_capped_
    # family / test_embedding_near_dups_capped_family_bounded_and_
    # connected instead. Two budgets: h=8 (media_near_dups' default —
    # 5 blocks of ~13 bits, so bucket occupancy and with it candidate
    # volume grow ~n^2/2^13 past ~10k blobs: the structural
    # super-linear term, same shape as d9's) and h=4 (3 blocks of ~21
    # bits — occupancy stays < 1 out to ~2M blobs, the
    # inside-the-window contrast).
    MEDIA_FACTORS = [1, 16]
    MEDIA_RUN_FACTORS = [
        int(x)
        for x in os.environ.get(
            "MEDIA_RUN_FACTORS", ",".join(map(str, MEDIA_FACTORS))
        ).split(",")
    ]
    MEDIA_BASE_N = 50_000

    def replicate_media(spark, factor: int) -> str:
        out = f"{WORK}/media-x{factor}"
        if os.path.exists(os.path.join(out, "_DONE")):
            return out
        os.makedirs(out, exist_ok=True)
        n = MEDIA_BASE_N * factor
        df = spark.range(n).select(
            F.col("id").alias("media_id"),
            F.unhex(
                F.concat(
                    F.sha2(F.col("id").cast("string"), 256),
                    F.sha2(
                        F.concat(F.lit("b"), F.col("id").cast("string")), 256
                    ),
                )
            ).alias("payload"),
        )
        df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, "media.parquet")
        )
        open(os.path.join(out, "_DONE"), "w").close()
        return out

    def _media_dedup(h):
        def run(spark, d):
            from bbdc20_submission_spark.operators.multimodal import (
                media_near_dups,
            )

            media = spark.read.parquet(os.path.join(d, "media.parquet"))
            return media_near_dups(media, max_hamming=h)

        return run

    if "media" in SECTIONS:
        # perceptual_hash's decode_fn closure is a module-level symbol
        # (pickled by reference) — ship the package in case this
        # section runs before any registry query did it
        from bbdc20_submission_spark.session import ensure_package_shipped

        ensure_package_shipped(spark)
        store.setdefault("media", {})
        for f in MEDIA_RUN_FACTORS:
            d = replicate_media(spark, f)
            spark.read.parquet(os.path.join(d, "media.parquet")).count()
            for name, h in [
                ("media_near_dups_h8", 8),
                ("media_near_dups_h4", 4),
            ]:
                if not _want(name):
                    continue
                t = _measure(lambda: _media_dedup(h)(spark, d))
                store["media"].setdefault(name, {})[str(f)] = t
                print(f, "media", name, t, flush=True)
            json.dump(store, open(RESULTS_JSON, "w"))

    # ---- streaming compaction flatness past 16 batches (r12, VERDICT
    # #6): one 64-micro-batch run at 1x volume, compaction every 4 —
    # the as-of-read-cost claim is asymptotic, so this pins the CURVE
    # (without compaction the index read re-lists one partition dir
    # per batch forever; with it, live partitions are capped and
    # per-trigger walls must stay flat through batch 64).
    def _stream_text_compact64_run(spark, d):
        from bbdc20_submission_spark.operators.incremental import (
            build_dedup_index,
            seed_ingest_index,
            stream_incremental_dedup,
        )

        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        mid = docs.approxQuantile("doc_id", [0.5], 0.001)[0]
        hist = docs.filter(F.col("doc_id") < mid)
        staged = os.path.join(d, "ingest-staged64")
        if not os.path.exists(os.path.join(staged, "_SUCCESS")):
            docs.filter(F.col("doc_id") >= mid).repartition(64).write.mode(
                "overwrite"
            ).parquet(staged)
        rd = _fresh("textcompact64")
        index_path = os.path.join(rd, "index")
        seed_ingest_index(build_dedup_index(hist), index_path)
        schema = spark.read.parquet(staged).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged)
        )
        q = stream_incremental_dedup(
            stream,
            index_path,
            os.path.join(rd, "kept"),
            os.path.join(rd, "ckpt"),
            exactly_once=True,
            compact_every_n_batches=4,
        ).trigger(availableNow=True).start()
        q.awaitTermination()
        prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        store.setdefault("stream_detail", {}).setdefault(
            "stream_incremental_dedup_compact64", {}
        )["1"] = {
            "triggers": len(prog),
            "rows": sum(p["numInputRows"] for p in prog),
            "trigger_ms": [
                p["durationMs"].get("triggerExecution") for p in prog
            ],
        }
        shutil.rmtree(rd, ignore_errors=True)

    if "stream64" in SECTIONS and _want("stream_incremental_dedup_compact64"):
        d = replicate(spark, 1)
        # one rep: the per-trigger CURVE is the measurement, not the
        # min total (recentProgress of the run lands in stream_detail)
        t0 = time.perf_counter()
        _stream_text_compact64_run(spark, d)
        store.setdefault("stream64", {})[
            "stream_incremental_dedup_compact64"
        ] = {"1": round(time.perf_counter() - t0, 2)}
        json.dump(store, open(RESULTS_JSON, "w"))

    done = (
        all(
            str(f) in store["queries"].get(q, {})
            for f in FACTORS
            for q in QUERIES
        )
        and all(str(f) in store["ext"].get(q, {}) for f in FACTORS for q in EXT)
        and all(
            str(f) in store["stream"].get(q, {}) for f in FACTORS for q in STREAM
        )
        and all(
            str(f) in store["refine"].get("semantic_dedup_refine_k16", {})
            for f in REFINE_FACTORS
        )
        and all(
            str(f) in store["text64"].get(q, {})
            for f in TEXT64_FACTORS
            for q in [*TEXT64_QUERIES, "d9_auto_guard"]
        )
        and all(str(f) in store["d9_budget"] for f in TEXT64_FACTORS)
        and all(
            str(f) in store.get("sim64", {}).get(q, {})
            for f in SIM64_FACTORS
            for q in [
                "s_topk_suite",
                "s5_ivf_topk",
                "s3_embedding_near_dups",
                "s3_planes_scaled",
            ]
        )
        and all(
            str(f) in store.get("media", {}).get(q, {})
            for f in MEDIA_FACTORS
            for q in ["media_near_dups_h8", "media_near_dups_h4"]
        )
        and "stream_incremental_dedup_compact64" in store.get("stream64", {})
    )
    if not done:
        print("partial run recorded; SCALING.md not rewritten yet")
        return

    def _table(names, source, factors=FACTORS):
        out = []
        for q in names:
            r = {int(k): v for k, v in source[q].items()}
            hi, lo = factors[-1], factors[0]
            ratio = round(r[hi] / r[lo], 1) if r[lo] > 0 else float("inf")
            cells = " | ".join(str(r[f]) for f in factors)
            out.append(f"| {q} | {cells} | {ratio}x |")
        return out

    rows = {int(k): v for k, v in store["rows"].items()}
    lines = [
        "# SCALING — measured wall-clock vs data volume\n",
        "sf0.1 tables replicated with shifted keys/timestamps (so key",
        "cardinality grows with volume), local[32]. Generated by",
        "`scripts/scale_probe.py`.\n",
        "| query | 1x (s) | 4x (s) | 16x (s) | 16x/1x |",
        "|---|---|---|---|---|",
        *_table(QUERIES, store["queries"]),
        "\nExtension operators (not in the driver registry):\n",
        "| operator | 1x (s) | 4x (s) | 16x (s) | 16x/1x |",
        "|---|---|---|---|---|",
        *_table(list(EXT), store["ext"]),
        "\nStreaming forms (availableNow micro-batch runs, fresh"
        " checkpoints per rep; documents staged as 8*factor files —"
        " production corpora arrive as many files, and the r9 staging"
        " (one file per factor) made every run a single one-core"
        " trigger. stream_curate = stateless noop-sink chain at a"
        " CONSTANT 8-files/trigger budget, so trigger count grows with"
        " volume (the naive fixed-budget regime);"
        " stream_curate_scaled = the same chain at factor"
        " files/trigger, so the trigger count stays 8 while per-trigger"
        " volume and split parallelism grow with the corpus — the"
        " production shape (fixed cadence, cluster sized to arrival"
        " volume). stream_incremental_semantic_dedup = the foreachBatch"
        " embedding-ingest form, history fit + index build + an"
        " 8-micro-batch stream all timed."
        " stream_incremental_dedup_compact (r11) = the TEXT ingest"
        " stream under the exactly-once layout with automatic index"
        " compaction (compact_every_n_batches=4): history seeded as"
        " the -1 partition, 16 micro-batches of 1 file each — the"
        " per-batch flatness claim is checked from the decomposition"
        " below, since without compaction the as-of index read"
        " re-lists one partition dir per batch forever):\n",
        "| streaming form | 1x (s) | 4x (s) | 16x (s) | 16x/1x |",
        "|---|---|---|---|---|",
        *_table(list(STREAM), store["stream"]),
        "\nstream_curate decomposition (last-rep recentProgress):"
        + " ".join(
            f" {tag} at {f}x = {det['triggers']} triggers /"
            f" {det['rows']:,} rows, per-trigger ms"
            f" {sorted(x for x in det['trigger_ms'] if x is not None)};"
            for tag in (
                "stream_curate",
                "stream_curate_scaled",
                "stream_incremental_dedup_compact",
            )
            for f, det in sorted(
                (
                    (int(k), v)
                    for k, v in store.get("stream_detail", {})
                    .get(tag, {})
                    .items()
                ),
            )
        )
        + " — the constant-budget row's wall is ~triggers x a fixed"
        " per-trigger cost (the per-doc term is flat per trigger by"
        " construction), while the volume-scaled row holds trigger"
        " count fixed and rides split parallelism, so its ratio is the"
        " per-doc term's true scaling.",
        "\nTwo-level quantization (embeddings replicated alone at"
        " 1x/16x/64x, vec_ids shifted; semantic_dedup with n_clusters"
        " FIXED at 16 — the regime the 65,536 auto-k clamp creates past"
        " ~20M vectors — and refine=True, so over-full cells split"
        " geometrically via _refine_hot_cells; a fixed k without"
        " refinement measured ~9x wall on 4x data in r6):\n",
        "| operator | 1x (s) | 16x (s) | 64x (s) | 64x/1x |",
        "|---|---|---|---|---|",
        *_table(
            ["semantic_dedup_refine_k16"],
            store["refine"],
            factors=REFINE_FACTORS,
        ),
        "\nText-dedup family, next octave (documents replicated ALONE"
        " at 1x/16x/64x with the same duplicate-free per-replica token"
        " salting — d8/d9/d12/c1 read only the documents table; 64x ="
        " 320,000 docs, written as 32 files so input splits don't"
        " serialize the scan):\n",
        "| operator | 1x (s) | 16x (s) | 64x (s) | 64x/1x |",
        "|---|---|---|---|---|",
        *_table(
            [*TEXT64_QUERIES, "d9_auto_guard"],
            store["text64"],
            factors=TEXT64_FACTORS,
        ),
        "\nd9 hamming-budget re-derivation on the same ladder (true"
        " pairs = DuckDB brute-force jaccard>=0.5 PAIR LIST at 1x"
        " translated into every replica — duplicate-free salting"
        " preserves within-replica jaccard exactly — so the true-pair"
        " hamming distribution is measured directly from the"
        " fingerprints; d9's output is exact-verified, so d9-found =="
        " within-budget proves the candidate stage is exactly"
        " budget-complete): "
        + "; ".join(
            f"{f}x true {b['expected']}, within budget-17"
            f" {b['within_budget']}, d9 found {b['found']}"
            + (
                " (budget-exact)"
                if b["found"] == b["within_budget"]
                else " (CANDIDATE LOSS — investigate)"
            )
            + f", true max hamming {b['true_max_hamming']},"
            f" d8 found {b['d8_found']}"
            for f in TEXT64_FACTORS
            for b in [store["d9_budget"][str(f)]]
        )
        + ". Where true max hamming exceeds 17, the gap between found"
        " and true is the beyond-budget TAIL of the corpus's hamming"
        " distribution at that scale — the knob is the budget (raising"
        " it widens the window but narrows the pigeonhole blocks),"
        " not the machinery. d8's gaps are the MinHash-LSH S-curve"
        " tail near jaccard 0.5 — probabilistic by design, tunable"
        " via bands. d9's 64x wall in the table is the exact scheme's"
        " quadratic region: past n ~ bucket_cap * 2^(64/s) (~130k docs"
        " at budget 17) every 7-bit pigeonhole bucket is hot and the"
        " exact candidate volume grows with n^2. r11 made the guard"
        " AUTOMATIC: hamming_near_pairs defaults to exact_hot_buckets="
        "None, which estimates the hot candidate volume from the"
        " hot-bucket dim (one broadcast-sized agg) and degrades to the"
        " bounded O(n*cap*rounds) plan with a warning past ~1e9 pair"
        " evals —"
        " the d9_auto_guard row above is that default's wall on this"
        " ladder (identical to d9 at 1x/16x where no bucket is hot;"
        " bounded at 64x). Auto-guard verified pairs found per factor: "
        + ", ".join(
            f"{f}x {store['d9_budget'].get('auto_found', {}).get(str(f), '?')}"
            f"/{store['d9_budget'][str(f)]['within_budget']}"
            for f in TEXT64_FACTORS
        )
        + " — any 64x shortfall vs within-budget truth is the bounded"
        " plan's documented sampling (r12 form: band-salted index"
        " assignment + 4 round-salted probe subs per row + hamming-"
        "verified chain edges, retention ~1-(1-4/m)^k over k matching"
        " bands plus full family connectivity; callers needing every"
        " pair opt into exact_hot_buckets=True at the measured"
        " quadratic cost, or switch to the d8 family).",
        "\nSimilarity family on the embeddings 64x ladder (r12):"
        " s_topk_suite / s5_ivf_topk on the verbatim-duplication"
        " ladder (fixed-size top-k output); s3_embedding_near_dups on"
        " a PERMUTATION-salted ladder — replica r's vectors share one"
        " random permutation of their 64 dims, preserving every"
        " within-replica cosine exactly while cross-replica cosines"
        " fall back to the i.i.d. background, the embedding analog of"
        " the text ladder's token salting (verbatim duplication would"
        " make s3's PAIR output itself quadratic in the factor)."
        " s3_planes_scaled is the same composition with the signature"
        " sized to the corpus (14 planes x 8 bands instead of the"
        " certified 8 x 4): the s3 row's super-linear term is"
        " candidate volume ~n^2 * bands / 2^planes — a SELECTIVITY"
        " knob, not a machinery defect — and the sized row shows the"
        " same operator holding near-linear wall at the same planted"
        " recall (planted pairs found: "
        + ", ".join(
            f"{f}x"
            f" {store.get('sim64', {}).get('s3_planes_scaled_planted', {}).get(str(f), '?')}/8"
            for f in SIM64_FACTORS
        )
        + "):\n",
        "| operator | 1x (s) | 16x (s) | 64x (s) | 64x/1x |",
        "|---|---|---|---|---|",
        *_table(
            [
                "s_topk_suite",
                "s5_ivf_topk",
                "s3_embedding_near_dups",
                "s3_planes_scaled",
            ],
            store.get("sim64", {}),
            factors=SIM64_FACTORS,
        ),
        "\nMedia (perceptual dHash) dedup ladder (r12) — unique"
        f" sha2-derived payloads, {MEDIA_BASE_N:,} blobs at 1x,"
        " media_near_dups with its bounded default"
        " (exact_hot_buckets=False). h=8 is the operator default: 5"
        " pigeonhole blocks of ~13 bits, so bucket occupancy — and"
        " candidate volume, ~n^2*(w+1)*s/2^13 — grows with corpus"
        " size past ~10k blobs (the same applicability-window shape"
        " as d9's; the h=8 ratio IS that term, not a machinery"
        " defect). h=4 (3 blocks of ~21 bits) stays inside the window"
        " out to ~2M blobs — the budget, like the LSH plane count, is"
        " the selectivity knob a 100 TB deployment sizes first. (The"
        " radius-2 block split that once widened h=8's blocks to ~21"
        " bits lost every measurement — 1x r1 ~8 s vs r2 ~180 s, 16x"
        " r1 194 s vs r2 >15 min — and is deleted; BENCHNOTES.)\n",
        "| operator | 1x (s) | 16x (s) | 16x/1x |",
        "|---|---|---|---|",
        *_table(
            ["media_near_dups_h8", "media_near_dups_h4"],
            store.get("media", {}),
            factors=MEDIA_FACTORS,
        ),
        "\nStreaming compaction flatness past 16 batches (r12,"
        " one 64-micro-batch run at 1x volume, compact_every_n_batches"
        "=4, exactly-once layout): total "
        + str(
            store.get("stream64", {})
            .get("stream_incremental_dedup_compact64", {})
            .get("1", "?")
        )
        + " s; per-trigger ms (chronological) "
        + str(
            store.get("stream_detail", {})
            .get("stream_incremental_dedup_compact64", {})
            .get("1", {})
            .get("trigger_ms", "?")
        )
        + " — flat through batch 64 means the as-of index read cost"
        " is bounded by the compaction cap (live partitions <= N+1),"
        " not by stream age; a rising tail would mean the folding"
        " claim only held for the first segment.",
        f"\nevents rows: 1x={rows[1]:,} / 4x={rows[4]:,} / 16x={rows[16]:,}.",
        "\nA ratio near (or below) 16x on 16x data means the operator is"
        " at-worst linear in input on fixed hardware — shuffles stay"
        " partition-parallel and nothing degenerates quadratically. Sub-"
        "linear ratios reflect fixed job overhead amortizing away.",
        "\nDocument replication is duplicate-FREE (every token salted"
        " with the replica id), so the dedup rows measure the input-"
        "proportional signature/banding/verify stages rather than an"
        " artificially 16x-duplicated corpus; the duplicated-corpus"
        " regime (hot buckets) is bounded by the bucket cap and pinned"
        " by test_hot_bucket_cap_bounds_pair_count.",
        "\nd12 and curation_dag_strip run the CERTIFIED configurations"
        " (quality-keeper policy on — r7: the keeper argmax rides the"
        " driver union-find path inside dedup_clusters, so it adds no"
        " scaling term of its own).",
        "\nincremental_dedup / incremental_semantic_dedup are the"
        " daily-ingest shapes (index the lower half, dedup the upper"
        " half against it + within itself, index build and — for the"
        " semantic form — quantizer fit included): hash/signature and"
        " touched-cell joins only, so both hold strongly sub-linear"
        " ratios.",
        "\nduplicate_span_stats ratio note (r11): the 16x wall is"
        " flat round-over-round (16.5 s, r10 16.6 s) — the higher"
        " printed ratio vs r10 comes from the 1x BASELINE dropping"
        " (5.45 -> ~1.8 s: schema-cache + fewer fixed jobs amortize"
        " hardest at the smallest factor), not from any 16x growth.",
        "\nd2 / d4 layout note (r10, closed r11): the main-table"
        " replicas write documents as ONE parquet file with one row"
        " group — ONE readable chunk no matter how Spark sizes byte"
        " splits — so in r10 any query whose heavy stage is a"
        " pre-shuffle narrow map (d2's scoring scan, d4's n-gram"
        " scorer) ran that stage on ONE core of 32 (d2 30.05 s vs"
        " 10.78 s on the same 16x volume staged as 32 files). r11"
        " fixed this at the ENGINE level: load_table detects decoded"
        " STRING bytes per chunk > 6 MB with chunks << cores from the"
        " parquet footer and inserts an adaptive repartition"
        " (sources/harness.py), so the single-file main-table rows now"
        " measure the same parallel shape as the 32-file ladder —"
        " plus, r11 replaced the three regex char-class counts in"
        " quality_score with bit-identical translate() forms (17x on"
        " that stage), which is most of d2's and c1's drop on both"
        " ladders this round.",
        "\nj1 / a2 anomaly notes (r8, from executed-plan diffs at each"
        " factor): j1's step at 16x is a PLAN FLIP — at 1x/4x all three"
        " joins are BroadcastHashJoin (1 exchange total); at 16x the"
        " customer-orders join exceeds the 10MB broadcast threshold and"
        " becomes a SortMergeJoin (3 exchanges), the correct strategy"
        " at that size — the wall step is the two added shuffles, and"
        " the overall ratio stays inside the linear budget. a2's plan"
        " is IDENTICAL at every factor (single partial+final"
        " HashAggregate, 1 exchange); its sub-linear ratio is"
        " input-proportional map-side work emerging past fixed job"
        " overhead — nothing to fix.",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("SCALING.md written")


if __name__ == "__main__":
    main()
