#!/usr/bin/env python
"""Dump formatted physical plans.

With no arguments, regenerate PLANS.md: the plans of the headline
queries (sf0.01) with the scale property each plan demonstrates. Run
after changing any headline query: python scripts/dump_plans.py

With ``--tag TAG --out DIR``, write ``DIR/<query>_<TAG>.txt`` holding
``.explain("formatted")`` for every declared query (``--only q1,q2``
restricts the set) over ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) — the
before/after evidence for plan-shape claims (Exchange counts, join
strategies, PushedFilters, Python-eval nodes):

    python scripts/dump_plans.py --tag before --out plans/r14
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bbdc20_submission_spark import get_spark, registry
from bbdc20_submission_spark.sources.harness import DEFAULT_SF_DIR

TESTDATA = os.path.dirname(DEFAULT_SF_DIR)

HEADLINERS = {
    "w6_sessionize_rle": (
        "Flagship gaps-and-islands RLE. ONE exchange: both analytic "
        "windows and the final partial+final HashAggregate pair reuse "
        "the user_id hash partitioning."
    ),
    "a2_grouped_stats_q1": (
        "TPC-H Q1 shape. Ship-date predicate and column pruning reach "
        "the parquet scan (PushedFilters/ReadSchema); map-side partial "
        "aggregation before the single exchange."
    ),
    "j1_equi_join_revenue": (
        "Star join. Every dimension side broadcast (no shuffle of the "
        "fact), scans pruned to join/agg columns only."
    ),
    "d1_exact_dedup": (
        "Exact dedup at 100 TB shape: md5 computed before the shuffle, "
        "the exchange carries (hash, partial count, partial min) — the "
        "text never moves."
    ),
    "w9_j3_context_stats": (
        "Multi-resolution context gathers: all four range frames share "
        "one Sort+Exchange on (user_id, ms)."
    ),
    "s_topk_suite": (
        "ANN top-k suite (exact / LSH / int8-quantized, unioned): "
        "query set broadcast in every family, LSH candidates from a "
        "bucket equi-join, quantized scoring on narrow int8 arrays."
    ),
    "a_sketch_suite": (
        "Distinct counts + exact/approx percentiles as TWO grouped "
        "aggs joined on the 3-row group key: a single agg would drag "
        "the percentile buffers through the count-distinct Expand (x3 "
        "rows) — measured ~2.5x slower."
    ),
    "d8_minhash_lsh": (
        "Banded MinHash LSH: signatures persisted (read by hot-bucket "
        "count + both self-join sides), candidate generation is a "
        "bucket equi-join (no cross product), hot buckets hash-split "
        "via a broadcast of the over-cap dim (empty on healthy data)."
    ),
    "d12_dedup_clusters": (
        "Dedup clustering, small-edge-set regime: the verified pair "
        "list (materialized once during query build) fits the driver "
        "threshold, so components come from driver union-find — and "
        "BOTH keeper policies (min-id label + quality argmax over the "
        "already-collected membership) ride the same label frame, so "
        "the RETURNED plan is just documents LEFT JOIN "
        "broadcast(labels) with no reselect join stage. Above the "
        "threshold the O(log n) pointer-doubling loop plus the "
        "all-Spark reselect_keepers pass build the same output "
        "distributed."
    ),
    "s3_embedding_near_dups": (
        "Banded sign-LSH near-dup self-join: the signature frame "
        "(generated-SQL hyperplane dots) is persisted and both join "
        "sides read it; candidates come from a (band, signature) hash "
        "equi-join — no cross product — and only exact-verified "
        "cosine>=0.9 pairs survive."
    ),
    "d2_text_quality": (
        "Per-doc curation-quality suite: quality stats + Gopher "
        "repetition metrics come out of ONE narrow projection (zero "
        "exchange for that whole block — tokens materialized once, no "
        "CSE across HOF lambdas); the benchmark-decontamination half "
        "BROADCASTs the distinct eval-shingle dim into the corpus gram "
        "stream — corpus text never shuffles, only per-doc hit counts "
        "ride an exchange."
    ),
    "s4_kmeans_clusters": (
        "Clustering suite over the twin-augmented corpus (planted "
        "ground truth): quantizer fit driver-side on a bounded "
        "deterministic sample (k-means++ + Lloyd's, numpy; row count "
        "from parquet footers — no count() job), then ONE narrow pass "
        "computes assignment + argmax + the cross-path nearest_ok "
        "(codegen argmin vs Arrow matmul argmin); SemDeDup runs on a "
        "finer auto-k quantizer (pair volume O(n*cell)) with per-row "
        "L2 norms materialized through the persisted cell frame so "
        "pair cosine is a single dot product."
    ),
    "s5_ivf_topk": (
        "IVF top-k vs planted ground truth: corpus+twins is a narrow "
        "zero-shuffle Union; corpus side gets one narrow cell "
        "assignment (vectors never shuffle on a key), query side "
        "explodes its nprobe nearest cells and BROADCASTs into the "
        "cell equi-join; exact brute-force side broadcasts the 5-query "
        "dim. No distinct/exchange over the vector column anywhere."
    ),
    "a7_global_stats": (
        "Global stats + EXACT median as one lazy plan: the two-pass "
        "bracketed percentile rides a broadcast cross join (pass-1 "
        "count+sketch row into pass-2 bracket agg), so per-node state "
        "is O(sketch) instead of the builtin percentile's full "
        "value->count map; interpolation finishes as a scalar "
        "expression."
    ),
    "d4_language_id": (
        "Language/sampling/LM suite: stopword-vote language ID and "
        "both deterministic sample memberships are narrow maps; the "
        "corpus bigram LM adds two count shuffles (fixed-width token "
        "keys, map-side partials — text never enters an exchange), a "
        "BROADCAST 1-row vocabulary aggregate, and two equi-joins that "
        "AQE turns broadcast when the vocab dim is small."
    ),
    "c1_curation_dag": (
        "The whole curation pipeline as ONE composed lazy plan: the "
        "C4 source blocklist is a scan-pushed predicate (stage 0 costs "
        "zero extra operators), exact-dedup keep-ids ride a persisted "
        "O(unique) id set, LSH near-dup edges are the single bounded "
        "materialization (shared with d12), filters/scrub are narrow, "
        "the boilerplate strip reads the post-filter localCheckpoint "
        "boundary, and chunking is a generator explode."
    ),
    "d9_simhash_near_dups": (
        "Multi-index Hamming search: fingerprints persisted (2 longs/"
        "doc); exact block values (index side) equi-join block values "
        "+ one-bit flips (probe side) — pigeonhole recall 1 over the "
        "hamming budget with ~2x-wider slices than equality-only "
        "banding, so bucket selectivity is exponentially better; "
        "hamming budget folded into the join condition BEFORE the "
        "pair-distinct; exact Jaccard verify touches candidates only."
    ),
    "c2_corpus_diff": (
        "Snapshot diff: the status full-outer join exchanges ONLY "
        "(id, md5) pairs — text never shuffles for the diff. The "
        "rename pass (LSH + exact-Jaccard best match) runs over the "
        "tagged added/removed union only, so the near-dup machinery "
        "pays for the CHURN, never the snapshot: at a stable corpus "
        "with 1% daily churn the pass touches 2% of docs regardless "
        "of corpus size."
    ),
}


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def write_plans_md(spark) -> None:
    sf = os.path.join(TESTDATA, "sf0.01")
    out = [
        "# PLANS — physical plans of the headline queries\n",
        "Generated by `scripts/dump_plans.py` (sf0.01, AQE on). Each plan",
        "is annotated with the scale property it demonstrates; the same",
        "properties are regression-tested in `tests/test_plan_quality.py`.\n",
    ]
    for name, note in HEADLINERS.items():
        plan = _formatted(registry.QUERIES[name](spark, sf))
        tree = plan.split("\n\n")[0]
        details = [s for s in plan.split("\n\n")[1:] if "Scan parquet" in s or ") Exchange" in s]
        out.append(f"## {name}\n\n{note}\n")
        out.append("```\n" + tree.strip() + "\n```\n")
        for d in details[:4]:
            out.append("```\n" + d.strip() + "\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


def write_tagged(spark, tag: str, out_dir: str, only: set[str] | None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(TESTDATA, "sf0.1"))
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(registry.QUERIES):
        if only is not None and name not in only:
            continue
        try:
            text = _formatted(registry.QUERIES[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — record, keep going
            text = f"ERROR building/explaining {name}: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {name} ({tag}, sf_dir={sf_dir}) ==\n")
            fh.write(text)
        print(f"wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--tag", help="file-name suffix, e.g. before/after")
    ap.add_argument("--out", help="directory for <query>_<tag>.txt")
    ap.add_argument("--only", help="comma-list of query names")
    args = ap.parse_args()
    if (args.tag is None) != (args.out is None):
        ap.error("--tag and --out go together")
    if args.tag is None and args.only is not None:
        ap.error("--only needs --tag and --out")
    spark = get_spark("dump_plans")
    registry.load_all()
    if args.tag is None:
        write_plans_md(spark)
    else:
        only = {q for q in args.only.split(",") if q} if args.only else None
        write_tagged(spark, args.tag, args.out, only)


if __name__ == "__main__":
    main()
