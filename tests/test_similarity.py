"""Property tests for similarity search: LSH recall vs the exact
baseline, and planted embedding near-dups."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from bbdc20_submission_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_near_dups,
)

DIM = 16


def _clustered_vectors(n_clusters=8, per_cluster=12, noise=0.05, seed=3):
    rng = random.Random(seed)
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = [rng.gauss(0, 1) for _ in range(DIM)]
        norm = math.sqrt(sum(x * x for x in center))
        center = [x / norm for x in center]
        for _ in range(per_cluster):
            v = [x + rng.gauss(0, noise) for x in center]
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return rows


def test_bruteforce_topk_is_same_cluster(spark):
    # two all-zero vectors: their cosine is undefined (NULL), so they
    # rank after every defined score instead of raising DIVIDE_BY_ZERO
    zeros = [(900 + i, [0.0] * DIM, -1) for i in range(2)]
    rows = _clustered_vectors() + zeros
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = cosine_topk_bruteforce(df, df.filter("vec_id < 5"), k=3)
    labels = {r["vec_id"]: r["label"] for r in df.collect()}
    for r in out.collect():
        assert labels[r["match_id"]] == labels[r["query_id"]]
        assert r["cosine_sim"] > 0.9


def test_lsh_topk_recall(spark):
    rows = _clustered_vectors(per_cluster=20)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    queries = df.filter("vec_id < 8")
    exact = cosine_topk_bruteforce(df, queries, k=3)
    approx = cosine_topk_lsh(df, queries, dim=DIM, k=3, n_planes=4)
    e = {(r["query_id"], r["match_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["match_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"lsh recall {recall}"


def test_lsh_multiprobe_improves_recall(spark):
    """Flip-one-bit multi-probe must dominate single-bucket recall on
    the same table (same planes), and emit well-formed per-query
    rankings (no duplicate matches from overlapping probes)."""
    rows = _clustered_vectors(per_cluster=20)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    queries = df.filter("vec_id < 8")
    exact = cosine_topk_bruteforce(df, queries, k=3)
    single = cosine_topk_lsh(df, queries, dim=DIM, k=3, n_planes=4)
    multi = cosine_topk_lsh(
        df, queries, dim=DIM, k=3, n_planes=4, multiprobe=True
    )
    e = {(r["query_id"], r["match_id"]) for r in exact.collect()}
    s = {(r["query_id"], r["match_id"]) for r in single.collect()}
    m_rows = multi.collect()
    m = {(r["query_id"], r["match_id"]) for r in m_rows}
    assert len(m & e) >= len(s & e)
    assert len(m & e) / len(e) >= 0.8, f"multiprobe recall {len(m & e) / len(e)}"
    # rankings well-formed: per query, ranks are 1..n with unique matches
    per_q = {}
    for r in m_rows:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["match_id"]))
    for q, rm in per_q.items():
        ranks = sorted(rank for rank, _ in rm)
        assert ranks == list(range(1, len(rm) + 1))
        assert len({mid for _, mid in rm}) == len(rm)


def test_embedding_near_dups_planted(spark):
    rng = random.Random(5)
    base = []
    for i in range(20):
        v = [rng.gauss(0, 1) for _ in range(DIM)]
        base.append((i, [float(x) for x in v], 0))
        # planted near-duplicate: tiny perturbation
        base.append((i + 1000, [float(x + rng.gauss(0, 0.01)) for x in v], 0))
    # two all-zero vectors share a bucket; their cosine is undefined
    # (NULL), so they never pair
    base += [(2000 + i, [0.0] * DIM, 0) for i in range(2)]
    df = spark.createDataFrame(base, "vec_id long, embedding array<float>, label int")
    out = embedding_near_dups(df, threshold=0.98, n_planes=6, dim=DIM)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert all(b < 2000 for _, b in pairs), pairs
    planted = {(i, i + 1000) for i in range(20)}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.7, f"near-dup recall {recall}"


def test_embedding_near_dups_capped_family_bounded_and_connected(spark):
    """r12: a mass-duplicated embedding family far above bucket_cap
    must (a) not regenerate the quadratic within-bucket self-join —
    emitted pair count stays well under C(n,2) — (b) remain ONE
    connected component via the cosine-verified chain edges, and
    (c) emit only true pairs (>= threshold), so far-away vectors
    never appear."""
    rng = random.Random(9)
    fam_v = [float(x) for x in [rng.gauss(0, 1) for _ in range(DIM)]]
    n_fam = 600
    rows = [(i, fam_v, 0) for i in range(n_fam)]
    # unrelated far vectors: i.i.d. gaussians, cosine to anything ~0
    for k in range(20):
        rows.append(
            (5000 + k, [float(rng.gauss(0, 1)) for _ in range(DIM)], 1)
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = embedding_near_dups(
        df, threshold=0.98, n_planes=6, dim=DIM, n_bands=2, bucket_cap=16
    ).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in out]
    assert all(a < n_fam and b < n_fam for a, b in pairs)
    # bounded: the quadratic family join would emit C(600,2) = 179,700
    # pairs; the capped plan keeps ~(rounds+1)/m of them plus chains
    assert 0 < len(pairs) < 0.35 * (n_fam * (n_fam - 1) / 2), len(pairs)
    parent = list(range(n_fam))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(n_fam)}) == 1


def test_embedding_near_dups_exact_optout_matches_unsalted(spark):
    """r13 (advice): a ``bucket_cap`` above the corpus size leaves no
    bucket hot, so the plan is the exact banded self-join — on the
    capped-family corpus it must emit the FULL quadratic family pair
    set (every same-bucket pair survives the cosine verify) without
    the hot-bucket warning."""
    rng = random.Random(9)
    fam_v = [float(x) for x in [rng.gauss(0, 1) for _ in range(DIM)]]
    n_fam = 80
    rows = [(i, fam_v, 0) for i in range(n_fam)]
    for k in range(10):
        rows.append(
            (5000 + k, [float(rng.gauss(0, 1)) for _ in range(DIM)], 1)
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")  # hot-bucket warning must NOT fire
        exact = embedding_near_dups(
            df, threshold=0.98, n_planes=6, dim=DIM, n_bands=2,
            bucket_cap=len(rows) + 1,
        ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in exact}
    assert len(pairs) == n_fam * (n_fam - 1) // 2


def test_embedding_near_dups_budget_warning_fires(spark, monkeypatch):
    """r13: the plan-time exact candidate-volume estimate warns past
    _CANDIDATE_PAIR_BUDGET even when NO bucket exceeds the cap — the
    sub-cap occupancy hump the r12 64x ladder measured."""
    import warnings as _w

    from bbdc20_submission_spark.operators import similarity

    monkeypatch.setattr(similarity, "_CANDIDATE_PAIR_BUDGET", 100)

    rows = [
        (i, [float((i * 31 + j * 7) % 13 - 6) for j in range(DIM)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        embedding_near_dups(df, threshold=0.999, n_planes=2, dim=DIM)
    msgs = [str(c.message) for c in caught if c.category is UserWarning]
    assert any("_CANDIDATE_PAIR_BUDGET" in m for m in msgs), msgs


def test_auto_lsh_signature_sizing():
    """The auto rule: small corpora keep the base signature; large
    corpora grow planes to log2(n/occupancy) with bands re-derived to
    hold the base recall (never fewer bands, never > _MAX_BANDS)."""
    from bbdc20_submission_spark.operators.similarity import (
        auto_lsh_signature,
    )

    assert auto_lsh_signature(2_000, 0.95, 12, 1) == (12, 1)
    p, b = auto_lsh_signature(128_000, 0.9998, 12, 1)
    assert p == 14 and b >= 2  # the r12 s3_planes_scaled shape
    # recall actually holds: 1-(1-q^p)^b >= base 1-(1-q^12)^1
    q = 1.0 - math.acos(0.9998) / math.pi
    assert 1 - (1 - q**p) ** b >= 1 - (1 - q**12) ** 1
    # monotone: 100x more vectors -> more planes, bands bounded
    p2, b2 = auto_lsh_signature(12_800_000, 0.9998, 12, 1)
    assert p2 > p and b2 <= 32


def test_ivf_topk_recall(spark):
    from bbdc20_submission_spark.operators.clustering import ivf_topk

    rows = _clustered_vectors(per_cluster=20)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    queries = df.filter("vec_id < 8")
    exact = cosine_topk_bruteforce(df, queries, k=3)
    approx = ivf_topk(df, queries, k=3, n_clusters=8, nprobe=2)
    e = {(r["query_id"], r["match_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["match_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"ivf recall {recall}"


def test_kmeans_recovers_planted_clusters(spark):
    from bbdc20_submission_spark.operators.clustering import kmeans_assign

    rows = _clustered_vectors(n_clusters=4, per_cluster=15, noise=0.03)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    assign = kmeans_assign(df, k=4)
    joined = df.join(assign, "vec_id").select("label", "cluster").collect()
    # purity: each true label maps to one dominant kmeans cluster
    from collections import Counter, defaultdict

    by_label = defaultdict(Counter)
    for r in joined:
        by_label[r["label"]][r["cluster"]] += 1
    purity = sum(c.most_common(1)[0][1] for c in by_label.values()) / len(joined)
    assert purity >= 0.9, f"purity {purity}"


def test_quantized_cosine_topk_high_recall(spark, sf_dir):
    """int8 quantization must preserve top-k structure: top-3 by
    quantized cosine overlaps >= 2/3 with exact top-3 per query, and
    reconstruction error is bounded by the scale (|x - q*s| <= s/2)."""
    from pyspark.sql import Window

    from bbdc20_submission_spark.operators.similarity import (
        cosine_topk_bruteforce,
        dequantize_cosine,
        quantize_embeddings,
    )
    from bbdc20_submission_spark.sources.harness import load_table

    em = load_table(spark, "embeddings", sf_dir)
    q = quantize_embeddings(em)
    # reconstruction bound
    err = q.select(
        F.array_max(
            F.zip_with(
                "embedding",
                "embedding_q",
                lambda x, qv: F.abs(
                    x.cast("double") - qv.cast("double") * F.col("embedding_q_scale")
                ),
            )
        ).alias("e"),
        (F.col("embedding_q_scale") / 2 + 1e-12).alias("bound"),
    )
    assert err.filter(F.col("e") > F.col("bound")).count() == 0

    exact = cosine_topk_bruteforce(em, em.filter(F.col("vec_id") < 5), k=3)
    qa = q.select(F.col("vec_id").alias("query_id"), F.col("embedding_q").alias("_qa"),
                  F.col("embedding_q_scale").alias("_sa")).filter(F.col("query_id") < 5)
    qb = q.select(F.col("vec_id").alias("match_id"), F.col("embedding_q").alias("_qb"),
                  F.col("embedding_q_scale").alias("_sb"))
    scored = qb.crossJoin(F.broadcast(qa)).filter(F.col("match_id") != F.col("query_id")).select(
        "query_id", "match_id",
        dequantize_cosine("_qa", "_qb").alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("match_id").asc())
    qtop = scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 3)

    exact_pairs = {(r["query_id"], r["match_id"]) for r in exact.collect()}
    q_pairs = {(r["query_id"], r["match_id"]) for r in qtop.collect()}
    per_query_overlap = {}
    for qid in {p[0] for p in exact_pairs}:
        e = {m for (qq, m) in exact_pairs if qq == qid}
        g = {m for (qq, m) in q_pairs if qq == qid}
        per_query_overlap[qid] = len(e & g)
    assert all(v >= 2 for v in per_query_overlap.values()), per_query_overlap


def test_lsh_bucket_signature_rejects_column_objects(spark):
    """A computed/aliased Column has no stable identifier for the
    generated SQL — the operator must fail fast with a clear error,
    not deep in analysis (r3 advice)."""
    import pytest
    from pyspark.sql import functions as F

    from bbdc20_submission_spark.operators.similarity import lsh_bucket_signature

    with pytest.raises(ValueError, match="plain column name"):
        lsh_bucket_signature(F.col("embedding"), dim=4)
    with pytest.raises(ValueError, match="plain column name"):
        lsh_bucket_signature((F.col("a") + F.col("b")).alias("v"), dim=4)
    # the str path still builds a valid expression
    col = lsh_bucket_signature("embedding", dim=4, n_planes=4)
    df = spark.createDataFrame([([1.0, 0.0, 0.0, 0.0],)], "embedding array<double>")
    assert df.select(col.alias("b")).collect()[0]["b"] is not None


def test_semantic_dedup_matches_bruteforce_reference(spark):
    """The per-cell Gram-matrix path must reproduce the operator's
    contract EXACTLY against an O(n^2) numpy reference computed over
    the same cell assignment (single cluster => all pairs in one
    cell): pruned iff some LOWER-id cell-mate clears the threshold,
    keeper = the lowest such id. A NULL vector must pass through kept
    and never poison the batch."""
    import numpy as np

    from bbdc20_submission_spark.operators.clustering import semantic_dedup

    rng = random.Random(23)
    base = [
        np.array([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(12)
    ]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # a few exact copies and near-copies at higher ids
        if i % 3 == 0:
            rows.append((100 + i, [float(x) for x in v]))
        if i % 4 == 0:
            rows.append(
                (200 + i, [float(x + rng.gauss(0, 0.001)) for x in v])
            )
    rows.append((999, None))  # NULL embedding
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    thr = 0.98
    out = {
        r["vec_id"]: (r["keeper_id"], r["pruned"])
        for r in semantic_dedup(
            df, threshold=thr, n_clusters=1, seed=3, max_iter=2
        ).collect()
    }
    # numpy reference over ALL pairs (one cluster => one cell)
    vecs = {i: np.array(v) for i, v in rows if v is not None}
    want = {}
    for i, vi in vecs.items():
        mates = [
            j
            for j, vj in vecs.items()
            if j < i
            and float(
                vi @ vj / (np.linalg.norm(vi) * np.linalg.norm(vj))
            )
            >= thr
        ]
        want[i] = (min(mates) if mates else None, 1 if mates else 0)
    want[999] = (None, 0)
    assert out == want
    assert len(out) == len(rows)


def test_semantic_dedup_planted(spark):
    """Planted near-identical vectors must be pruned toward the
    lower-id twin; singletons stay kept."""
    from bbdc20_submission_spark.operators.clustering import semantic_dedup

    rng = random.Random(11)
    rows = []
    for i in range(30):
        v = [rng.gauss(0, 1) for _ in range(DIM)]
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x + rng.gauss(0, 0.005)) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semantic_dedup(
        df, threshold=0.99, n_clusters=4, seed=3
    ).collect()}
    assert len(out) == 60
    pruned = {i for i, r in out.items() if r["pruned"] == 1}
    # high-id twins whose pair landed in one cell get pruned; the cap
    # on recall is cell-boundary splits, so demand a strong majority
    planted_caught = {i + 1000 for i in range(30)} & pruned
    assert len(planted_caught) >= 20, len(planted_caught)
    for i in pruned:
        assert out[i]["keeper_id"] < i
    # originals never point at their higher-id twin
    assert all(out[i]["keeper_id"] is None or out[i]["keeper_id"] < i for i in out)


def test_refine_hot_cells_splits_geometrically(spark):
    """_refine_hot_cells: a cell above refine_cap is split by REAL
    sub-centroids — separable sub-blobs land in different composite
    cells, identical vectors stay co-celled, cold cells and row count
    are untouched, and composite keys never collide across coarse
    cells."""
    from bbdc20_submission_spark.operators.clustering import (
        _refine_hot_cells,
    )

    rng = random.Random(7)
    rows = []
    # hot coarse cell 0: three well-separated sub-blobs of 100
    for b, center in enumerate(([50.0, 0.0], [0.0, 50.0], [-50.0, -50.0])):
        for i in range(100):
            rows.append(
                (b * 100 + i,
                 [center[0] + rng.gauss(0, 1), center[1] + rng.gauss(0, 1)],
                 0)
            )
    # cold coarse cell 1: 20 rows, under the cap
    for i in range(20):
        rows.append((900 + i, [rng.gauss(0, 1), rng.gauss(0, 1)], 1))
    assigned = spark.createDataFrame(
        rows, "_id long, _v array<double>, cluster long"
    )
    out = _refine_hot_cells(
        assigned, refine_cap=150, target_cell_size=100, seed=5
    )
    got = {r["_id"]: r["cluster"] for r in out.collect()}
    assert len(got) == 320  # row count preserved
    # cold rows share one composite key, disjoint from every hot key
    cold_keys = {got[900 + i] for i in range(20)}
    assert len(cold_keys) == 1
    hot_keys = {got[i] for i in range(300)}
    assert cold_keys.isdisjoint(hot_keys)
    # the hot cell actually split, and sub-blobs separate cleanly:
    # every blob maps into exactly one composite cell of its own
    blob_keys = [
        {got[b * 100 + i] for i in range(100)} for b in range(3)
    ]
    assert all(len(ks) == 1 for ks in blob_keys)
    assert len(set().union(*blob_keys)) == 3


def test_semantic_dedup_refine_preserves_planted_dups(spark):
    """refine=True (forced split of over-full cells) must find the
    same planted duplicates as refine=False on a corpus where the hash
    cap never engages — geometric splitting keeps near-identical pairs
    co-celled, so the pruned output is identical."""
    from bbdc20_submission_spark.operators.clustering import semantic_dedup

    rng = random.Random(13)
    rows = []
    for i in range(150):
        v = [rng.gauss(0, 1) for _ in range(DIM)]
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x) for x in v]))  # exact twin
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.999, n_clusters=2, seed=3, approx_n=300)

    def snap(refine, **extra):
        return {
            tuple(r)
            for r in semantic_dedup(df, refine=refine, **kw, **extra).collect()
        }

    base = snap(False)
    # with k=2 every cell is over a 75-member refine_cap -> both split
    refined = snap(True, refine_cap=75, target_cell_size=50)
    assert refined == base
    # exact twins are co-celled by argmin determinism, so recall on
    # planted pairs is total under refinement
    pruned = {i for (i, k, p) in refined if p == 1}
    assert {i + 1000 for i in range(150)} <= pruned


def test_quantizer_udf_assignment_matches_expr_path(spark):
    """Above _EXPR_MAX_K assignment switches from codegen expressions
    to the Arrow-batched pandas-UDF matmul; both paths must produce
    the argmin-by-squared-distance assignment for the SAME centroids
    (ties -> lowest cluster id). Exercised by assigning one corpus
    with one fitted quantizer through both paths."""
    import numpy as np

    from bbdc20_submission_spark.operators.clustering import (
        CentroidQuantizer,
        _EXPR_MAX_K,
        _with_cluster,
        fit_quantizer,
    )

    # no ensure_package_shipped: the UDF closure is self-contained by
    # design (ndarray + library imports only, no package symbols), so
    # it must run on workers that cannot import the package
    rows = _clustered_vectors(n_clusters=6, per_cluster=12)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    model = fit_quantizer(df, k=6, max_iter=10)
    # pad the centroid set with far-away phantoms so k > _EXPR_MAX_K
    # without changing any argmin (phantoms are never nearest)
    phantom = np.full((_EXPR_MAX_K, model.centers.shape[1]), 1e6)
    big = CentroidQuantizer(np.vstack([model.centers, phantom]))
    assert big.centers.shape[0] > _EXPR_MAX_K
    small = _with_cluster(df.select("vec_id", "embedding"), model.centers, "embedding")
    viaudf = _with_cluster(df.select("vec_id", "embedding"), big.centers, "embedding")
    a = {r["vec_id"]: r["cluster"] for r in small.collect()}
    b = {r["vec_id"]: r["cluster"] for r in viaudf.collect()}
    assert a == b


def test_null_and_ragged_vectors_yield_null_cluster_both_paths(spark):
    """NULL or wrong-dim vectors must assign a NULL cluster on BOTH
    physical paths. The expression path gets this for free (zip_with
    pads mismatches with nulls -> all distances NULL -> NULL argmin);
    the Arrow UDF path must mask them rather than crash in
    np.asarray — pipelines with NULL embeddings at k*dim above the
    switch used to fail at runtime."""
    import numpy as np

    from bbdc20_submission_spark.operators.clustering import _with_cluster

    dim_big, dim_small = 256, 8
    rows_of = lambda d: [
        (0, [0.0] * d),            # -> cluster 0
        (1, [1.0] * d),            # -> cluster 1
        (2, None),                 # NULL vector
        (3, [0.0] * (d - 1)),      # ragged (short)
        (4, [1.0] * (d + 1)),      # ragged (long)
    ]
    for d in (dim_big, dim_small):  # UDF path / expression path
        centers = np.vstack([np.zeros(d), np.ones(d)])
        df = spark.createDataFrame(
            rows_of(d), "vec_id long, embedding array<double>"
        )
        got = {
            r["vec_id"]: r["cluster"]
            for r in _with_cluster(df, centers, "embedding").collect()
        }
        assert got == {0: 0, 1: 1, 2: None, 3: None, 4: None}, (d, got)


def test_kdim_cost_switch_picks_the_measured_winner(spark):
    """Pin the _EXPR_MAX_KDIM physical-path switch (clustering.py):
    k=31/dim=64 (k*dim=1984) must plan the Arrow UDF matmul, k=8/dim=8
    must plan literal expressions, and keep_dists must force the
    expression path regardless of k*dim (the UDF form never
    materializes distances). Guard against silent re-routing."""
    import numpy as np

    from bbdc20_submission_spark.operators.clustering import (
        _EXPR_MAX_KDIM,
        _with_cluster,
    )

    def _plan(k, d, **kw):
        centers = np.arange(k * d, dtype=np.float64).reshape(k, d)
        df = spark.createDataFrame(
            [(0, [0.0] * d)], "vec_id long, embedding array<double>"
        )
        out = _with_cluster(df, centers, "embedding", **kw)
        return out._jdf.queryExecution().executedPlan().toString()

    assert 31 * 64 > _EXPR_MAX_KDIM
    assert "ArrowEvalPython" in _plan(31, 64)
    assert "ArrowEvalPython" not in _plan(8, 8)
    assert "ArrowEvalPython" not in _plan(31, 64, keep_dists=True)


def test_quantizer_fit_is_seeded_deterministic(spark):
    """Same corpus + seed -> bit-identical centroids (k-means++ and
    Lloyd's run on a seeded RandomState over a deterministic sample)."""
    import numpy as np

    from bbdc20_submission_spark.operators.clustering import fit_quantizer

    rows = _clustered_vectors(n_clusters=4, per_cluster=10)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    m1 = fit_quantizer(df, k=4, seed=11, max_iter=7, fit_fraction=0.8)
    m2 = fit_quantizer(df, k=4, seed=11, max_iter=7, fit_fraction=0.8)
    assert np.array_equal(m1.centers, m2.centers)
    m3 = fit_quantizer(df, k=4, seed=12, max_iter=7, fit_fraction=0.8)
    assert not np.array_equal(m1.centers, m3.centers)


def test_semantic_dedup_approx_n_skips_count(spark):
    """r5 advice: auto-k used to pay a full df.count() per invocation.
    With an approx_n hint (parquet footer counts / a caller-cached
    count) the operator must launch NO count job and still auto-scale
    k from the hint."""
    from unittest.mock import patch

    from pyspark.sql import DataFrame

    from bbdc20_submission_spark.operators.clustering import semantic_dedup

    rng = random.Random(5)
    rows = [
        (i, [float(rng.gauss(0, 1)) for _ in range(DIM)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with patch.object(
        DataFrame, "count", side_effect=AssertionError("count job launched")
    ):
        out = semantic_dedup(df, threshold=0.99, approx_n=40, seed=3)
    assert out.count() == 40  # executes fine outside the patch


def test_large_k_assignment_stays_narrow_with_broadcast(spark):
    """Auto-k-scale assignment (k=2048, dim=16): the pandas-UDF path
    must broadcast the centroid matrix explicitly and stay ONE narrow
    pass — no Exchange anywhere in the assignment plan."""
    import numpy as np

    from bbdc20_submission_spark.operators.clustering import (
        CentroidQuantizer,
        _with_cluster,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(2048, 16)
    model = CentroidQuantizer(centers)
    rows = [(i, [float(x) for x in centers[i % 2048]]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned = _with_cluster(df.select("vec_id", "embedding"), model.centers, "embedding")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    # each vector IS a centroid -> assignment must hit its own index
    assert all(got[i] == i % 2048 for i in got), got


def test_quantizer_save_load_roundtrip(spark, tmp_path):
    """The fit-once IVF artifact: save->load must be bit-identical
    (json float repr round-trips IEEE doubles exactly) and produce
    identical assignments."""
    import numpy as np

    from bbdc20_submission_spark.operators.clustering import (
        CentroidQuantizer,
        assign_clusters,
        fit_quantizer,
    )

    rows = _clustered_vectors(n_clusters=4, per_cluster=10)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    model = fit_quantizer(df, k=4, seed=5, max_iter=8)
    p = str(tmp_path / "quantizer.json")
    model.save(p)
    loaded = CentroidQuantizer.load(p)
    assert np.array_equal(model.centers, loaded.centers)
    a = {r["vec_id"]: r["cluster"] for r in assign_clusters(model, df).collect()}
    b = {r["vec_id"]: r["cluster"] for r in assign_clusters(loaded, df).collect()}
    assert a == b


def test_random_projection_preserves_topk_structure(spark):
    """JL projection 16->8 dims on clustered vectors: projected-space
    top-3 must stay within the query's true cluster (what the distance
    preservation guarantee buys — within-cluster ORDER is noise-driven
    and not preserved by any dimensionality reduction), and the
    projection must be deterministic."""
    rows = _clustered_vectors(per_cluster=20)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    from bbdc20_submission_spark.operators.similarity import random_projection

    proj = df.select(
        "vec_id", random_projection("embedding", DIM, 8).alias("emb_rp")
    )
    rp = cosine_topk_bruteforce(
        proj, proj.filter("vec_id < 8"), k=3, vec_col="emb_rp"
    )
    labels = {r["vec_id"]: r["label"] for r in df.collect()}
    hits = [labels[r["match_id"]] == labels[r["query_id"]] for r in rp.collect()]
    assert sum(hits) / len(hits) >= 0.9, f"same-cluster rate {sum(hits)/len(hits)}"
    again = {
        tuple(r["emb_rp"]) for r in proj.collect()
    } == {tuple(r["emb_rp"]) for r in df.select(
        "vec_id", random_projection("embedding", DIM, 8).alias("emb_rp")
    ).collect()}
    assert again


def test_pq_planted_twin_recall_and_roundtrip(spark, sf_dir, tmp_path):
    """Product quantization: encoding is a narrow codegen pass, a
    planted near-twin of each query lands in the ADC top-3, and
    save->load round-trips the codebooks bit-identically."""
    import numpy as np

    from bbdc20_submission_spark.operators.similarity import (
        ProductQuantizer,
        fit_pq,
        pq_encode,
        pq_topk_adc,
    )
    from bbdc20_submission_spark.sources.harness import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    base = [(r["vec_id"], list(r["embedding"])) for r in emb.limit(40).collect()]
    # plant a near-twin of each of 5 queries
    rng = np.random.RandomState(3)
    queries, rows = [], list(base)
    for qi in range(5):
        v = np.asarray(base[qi][1], dtype=np.float64)
        twin = v + rng.normal(0, 1e-4, size=v.shape)
        rows.append((10_000 + qi, [float(x) for x in twin]))
        queries.append((qi, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pq = fit_pq(corpus, dim=dim, m=4, ksub=16)
    codes = pq_encode(corpus, pq)

    # narrow encode: no Exchange in the encode plan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        codes.explain("formatted")
    assert "Exchange" not in buf.getvalue().split("\n\n")[0]

    top = pq_topk_adc(codes, queries, pq, k=3)
    got = {
        (r["query_id"], r["vec_id"]) for r in top.collect()
    }
    for qi in range(5):
        assert (qi, 10_000 + qi) in got, f"twin of query {qi} missed top-3"

    p = str(tmp_path / "pq.json")
    pq.save(p)
    again = ProductQuantizer.load(p)
    assert (again.codebooks == pq.codebooks).all()
    # encoding with the reloaded artifact is identical
    a = {r["vec_id"]: r["pq_code"] for r in codes.collect()}
    b = {r["vec_id"]: r["pq_code"] for r in pq_encode(corpus, again).collect()}
    assert a == b


def test_pq_validation(spark):
    from bbdc20_submission_spark.operators.similarity import fit_pq

    df = spark.createDataFrame(
        [(1, [0.0] * 10)], "vec_id long, embedding array<double>"
    )
    import pytest

    with pytest.raises(ValueError, match="not divisible"):
        fit_pq(df, dim=10, m=4)
    with pytest.raises(ValueError, match="ksub"):
        fit_pq(df, dim=10, m=2, ksub=64)


def test_ivfpq_planted_twin_recall_and_plan(spark, sf_dir):
    """IVF-PQ composition: the index build is one narrow pass (no
    Exchange), probing the twin's cell finds each planted twin in the
    ADC top-3, and only probed cells are scored."""
    import numpy as np

    from bbdc20_submission_spark.operators.clustering import fit_quantizer
    from bbdc20_submission_spark.operators.similarity import (
        fit_pq,
        ivfpq_encode,
        ivfpq_topk,
    )
    from bbdc20_submission_spark.sources.harness import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    base = [(r["vec_id"], list(r["embedding"])) for r in emb.limit(60).collect()]
    rng = np.random.RandomState(5)
    queries, rows = [], list(base)
    for qi in range(5):
        v = np.asarray(base[qi][1], dtype=np.float64)
        twin = v + rng.normal(0, 1e-4, size=v.shape)
        rows.append((20_000 + qi, [float(x) for x in twin]))
        queries.append((qi, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    model = fit_quantizer(corpus, k=4)
    pq = fit_pq(corpus, dim=dim, m=4, ksub=16)
    index = ivfpq_encode(corpus, model, pq)

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        index.explain("formatted")
    assert "Exchange" not in buf.getvalue().split("\n\n")[0]

    top = ivfpq_topk(index, queries, model, pq, k=3, nprobe=2)
    rows_out = top.collect()
    got = {(r["query_id"], r["vec_id"]) for r in rows_out}
    for qi in range(5):
        assert (qi, 20_000 + qi) in got, f"twin of query {qi} missed top-3"

    # candidate restriction: every scored row's cell is one of the
    # query's nprobe probed cells
    cells = {r["vec_id"]: r["cell"] for r in index.collect()}
    centers = model.centers
    for r in rows_out:
        q = np.asarray(dict(queries)[r["query_id"]], dtype=np.float64)
        d2 = ((centers - q[None, :]) ** 2).sum(axis=1)
        probed = set(np.argsort(d2, kind="stable")[:2].tolist())
        assert cells[r["vec_id"]] in probed


def test_semantic_dedup_degenerate_vectors_inert(spark):
    """NaN/inf-element, ragged-length, and NULL vectors are INERT:
    kept, never pruned, never keepers (their cosine is undefined —
    the old expression path pruned NaN rows only via Spark's
    NaN-orders-last comparison quirk; ragged rows would crash the
    numpy Gram). Finite same-length twins still dedup around them."""
    from bbdc20_submission_spark.operators.clustering import (
        CentroidQuantizer,
        semantic_dedup,
    )

    base = [float(i + 1) for i in range(8)]
    rows = [
        (0, base),
        (1, [x * 1.000001 for x in base]),  # exact-direction twin of 0
        (2, [float("nan")] * 8),
        (3, [float("inf")] + [1.0] * 7),
        (4, base + [1.0]),  # ragged: len 9 vs center dim 8
        (5, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = CentroidQuantizer([[0.0] * 8])  # k=1: one cell, no fit
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, threshold=0.99, model=model).collect()
    }
    assert len(out) == 6
    assert out[1]["pruned"] == 1 and out[1]["keeper_id"] == 0
    for i in (0, 2, 3, 4, 5):
        assert out[i]["pruned"] == 0 and out[i]["keeper_id"] is None, out[i]
