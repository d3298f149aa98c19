"""LLM-training-data pipeline declared queries (SURVEY §7 M4 /
BASELINE.json north star): dedup, similarity search, text analysis,
multimodal plumbing — over `documents` and `embeddings`.

Every query carries a DuckDB oracle. Where the Spark mechanism is
engine-specific (xxhash64 MinHash bands, SimHash slices, ML KMeans),
the certified OUTPUT is engine-portable: LSH candidates are verified
with exact Jaccard and compared against DuckDB's brute-force pair set
(recall 1 by construction or measured), hyperplane LSH buckets are
recomputed in SQL from the literal planes, and iterative/ML operators
emit deterministic self-check flags beside oracle-able columns. The
oracles may be O(N^2) (brute force) — they run at sf0.01 only; the
Spark paths are the banded/bucketed 100 TB shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bbdc20_submission_spark.operators.aggregates import argmax_array
from bbdc20_submission_spark.caching import managed_persist
from bbdc20_submission_spark.operators.dedup import (
    exact_dedup_groups,
    hamming_near_pairs,
    hashed_shingle_sets,
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash_sets_df,
)
from bbdc20_submission_spark.operators.multimodal import (
    extract_features,
    frame_sample_stub,
    synthetic_media,
)
from bbdc20_submission_spark.operators.similarity import (
    _hyperplanes,
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_near_dups,
    random_projection_sql,
)
from bbdc20_submission_spark.operators.text import (
    STOPWORDS,
    TOKEN_PATTERN,
    classifier_quality_score,
    classifier_score_sql,
    language_id,
    portable_fingerprint,
    quality_score,
    ws_tokens,
)
from bbdc20_submission_spark.registry import query
from bbdc20_submission_spark.sources.harness import (
    load_table,
    table_column_max,
    table_row_count,
)


def _plant_offset(
    spark: SparkSession, sf_dir: str, table: str = "embeddings",
    id_col: str = "vec_id",
) -> int:
    """Collision-PROOF offset for planted ground-truth ids:
    max(id) + 1, so planted rows (base id + offset) can never alias a
    real id at any data scale — a fixed literal offset silently
    corrupts the keep-lowest-id / top-k predictions the moment the id
    space grows past it (round-6 advice). Comes from parquet
    row-group statistics (footer-only, exact for int64) with a real
    max() job as the fallback; the DuckDB oracles derive the SAME
    number with a ``max(vec_id) + 1`` subquery, so both engines plant
    identical ids."""
    m = table_column_max(table, id_col, sf_dir)
    if m is None:
        m = load_table(spark, table, sf_dir).agg(
            F.max(id_col).alias("m")
        ).collect()[0]["m"]
    return int(m) + 1

# Shared SQL-string fragments for the embedding suites (r13 build
# sweep: Python-lambda HOFs cost ~20-40 ms of py4j traffic each to
# assemble; these parsed strings are sameSemantics-identical).
_V_DBL_SQL = "transform(embedding, x -> CAST(x AS DOUBLE))"
_WS_TOKENS_TEXT_SQL = "split(text, ' ')"


def _twin_sql(c1: float, c2: float) -> str:
    """SQL for the planted near-twin arithmetic
    ``zip_with(v, reverse(v), (x, y) -> x*c1 + y*c2)`` over the
    double-cast embedding — the same formula the oracles derive."""
    return (
        f"zip_with({_V_DBL_SQL}, reverse({_V_DBL_SQL}), "
        f"(x, y) -> x * {c1!r}D + y * {c2!r}D)"
    )


# Shared DuckDB CTE chain: exact 3-word-shingle Jaccard over ALL pairs
# (brute force — the oracle-side ground truth the banded Spark paths
# are certified against; quadratic, so oracle-only, never the engine).
# MATERIALIZED: the recursive d12 oracle references the chain many
# times; without the hint DuckDB re-evaluates it per reference (20s ->
# 7s measured at sf0.01).
_EXACT_PAIRS_CTES = """
    toks AS MATERIALIZED (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
    sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in generate_series(1, greatest(len(t)-2, 1))]) AS s
        FROM toks
    ),
    ex AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_filter(a.s, x -> list_contains(b.s, x)))
                     / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
"""


# ------------------------------------------------------------------- dedup

@query(
    "d1_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           count(*) AS n_copies,
           min(doc_id) AS keep_id
    FROM documents GROUP BY md5(text)
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: shuffle 16-byte content hashes, never text."""
    d = load_table(spark, "documents", sf_dir)
    return exact_dedup_groups(d)


@query(
    "d8_minhash_lsh",
    oracle=f"""
    WITH {_EXACT_PAIRS_CTES}
    SELECT id_a, id_b, jaccard FROM ex WHERE jaccard >= 0.5
    """,
)
def d8_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates verified by exact shingle
    Jaccard. The banded candidate generation is engine-specific
    (xxhash64), but the VERIFIED pair set is not: the oracle computes
    the same >= 0.5 Jaccard pairs by brute force, so a green hash
    proves LSH recall is exactly 1 on this corpus (false positives are
    impossible — every emitted pair passed the exact verify)."""
    d = load_table(spark, "documents", sf_dir)
    sets = managed_persist(hashed_shingle_sets(d, shingle_k=3))
    cands = minhash_lsh_candidates(d, shingle_k=3, num_hashes=16, bands=4, sets=sets)
    return jaccard_pairs(
        d, cands, shingle_k=3, min_jaccard=0.5, broadcast_sets=True, sets=sets
    ).filter(F.col("jaccard") >= 0.5)


@query(
    "d9_simhash_near_dups",
    oracle=f"""
    WITH {_EXACT_PAIRS_CTES}
    SELECT id_a, id_b, jaccard FROM ex WHERE jaccard >= 0.5
    """,
)
def d9_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (shingle-basis fingerprints, multi-index
    hamming <= 17 -> recall 1 over the hamming budget by pigeonhole)
    verified by exact shingle Jaccard >= 0.5. Certified like d8: the
    output is the exact-verified pair set, compared against DuckDB's
    brute-force ground truth — green proves the SimHash bucketing
    loses no true near-dup pair on this corpus.

    Fingerprint basis + budget (r8): unigram-vote fingerprints are
    dominated by corpus-common tokens — 11.4% of RANDOM doc pairs sat
    within the old hamming-13 budget at sf0.1, so the candidate set
    (and the exact-jaccard verify behind it) grew QUADRATICALLY: 27M
    candidates / 56 s at the 16x scale replica for 4,091 real pairs.
    Shingle-basis votes (``simhash_sets_df``) de-correlate the
    fingerprints: background within hamming 17 is ~1.3e-4 of pairs
    while every measured true pair (all have jaccard >= 0.8 on these
    corpora) sits at hamming <= 15 across sf0.001/0.01/0.1 and the
    4x/16x replicas (per-SF maxima 12/10/11/14/15). 17 covers that
    max with margin at the same block count as 16 (s = 9 either way).

    The corpus is shingled ONCE: the persisted ``hashed_shingle_sets``
    frame feeds both the fingerprint votes and the verify's set
    intersections."""
    d = load_table(spark, "documents", sf_dir)
    sets = managed_persist(hashed_shingle_sets(d, shingle_k=3))
    fp = managed_persist(simhash_sets_df(sets))
    # exact_hot_buckets=True: the certified SFs sit well inside the
    # multi-index applicability window (no bucket is hot), so this is
    # byte-identical to the r11 auto-guard's choice — passing it
    # explicitly skips the guard's extra agg job (bench job-count
    # hygiene) and documents that d9's contract IS exact recall.
    cands = hamming_near_pairs(
        fp, max_hamming=17, exact_hot_buckets=True
    ).select("id_a", "id_b")
    return jaccard_pairs(
        d, cands, shingle_k=3, min_jaccard=0.5, broadcast_sets=True, sets=sets
    ).filter(F.col("jaccard") >= 0.5)


@query(
    "d7_ngram_jaccard",
    oracle="""
    WITH RECURSIVE toks7 AS (
        SELECT doc_id, list_distinct(str_split(text, ' ')) AS ws FROM documents
    ),
    adj AS (
        SELECT 'adjacent' AS family, a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_filter(a.ws, x -> list_contains(b.ws, x)))
                     / len(list_distinct(list_concat(a.ws, b.ws))), 6) AS jaccard
        FROM toks7 a JOIN toks7 b ON b.doc_id = a.doc_id + 1
    ),
    params AS (SELECT max(doc_id) + 1 AS off FROM documents),
    corpus AS MATERIALIZED (
        SELECT doc_id, text, CASE WHEN doc_id % 8 = 0 THEN 'h' ELSE 'b' END AS side
        FROM documents WHERE doc_id % 8 IN (0, 4)
        UNION ALL
        SELECT doc_id + (SELECT off FROM params), text, 'b'
        FROM documents WHERE doc_id % 40 = 8
        UNION ALL
        SELECT doc_id + 2 * (SELECT off FROM params), text, 'b'
        FROM documents WHERE doc_id % 40 = 12
        UNION ALL
        SELECT doc_id + 3 * (SELECT off FROM params), text || ' qq-near-marker', 'b'
        FROM documents WHERE doc_id % 40 = 16
        UNION ALL
        SELECT doc_id + 4 * (SELECT off FROM params), text || ' qq-near-marker', 'b'
        FROM documents WHERE doc_id % 40 = 20
    ),
    dsh AS MATERIALIZED (
        SELECT doc_id, side,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in generate_series(1, greatest(len(t)-2, 1))]) AS s
        FROM (SELECT doc_id, side, str_split(text, ' ') AS t FROM corpus)
    ),
    dab AS MATERIALIZED (
        SELECT doc_id, side,
               [md5(x || ':0') for x in s] AS m0,
               [md5(x || ':1') for x in s] AS m1,
               [md5(x || ':2') for x in s] AS m2,
               [md5(x || ':3') for x in s] AS m3
        FROM dsh
    ),
    sigs AS MATERIALIZED (
        SELECT doc_id, side,
               list_min(list_transform(m0, m -> CAST(('0x'||substr(m,1,8)) AS BIGINT))) AS h0,
               list_min(list_transform(m0, m -> CAST(('0x'||substr(m,9,8)) AS BIGINT))) AS h1,
               list_min(list_transform(m0, m -> CAST(('0x'||substr(m,17,8)) AS BIGINT))) AS h2,
               list_min(list_transform(m0, m -> CAST(('0x'||substr(m,25,8)) AS BIGINT))) AS h3,
               list_min(list_transform(m1, m -> CAST(('0x'||substr(m,1,8)) AS BIGINT))) AS h4,
               list_min(list_transform(m1, m -> CAST(('0x'||substr(m,9,8)) AS BIGINT))) AS h5,
               list_min(list_transform(m1, m -> CAST(('0x'||substr(m,17,8)) AS BIGINT))) AS h6,
               list_min(list_transform(m1, m -> CAST(('0x'||substr(m,25,8)) AS BIGINT))) AS h7,
               list_min(list_transform(m2, m -> CAST(('0x'||substr(m,1,8)) AS BIGINT))) AS h8,
               list_min(list_transform(m2, m -> CAST(('0x'||substr(m,9,8)) AS BIGINT))) AS h9,
               list_min(list_transform(m2, m -> CAST(('0x'||substr(m,17,8)) AS BIGINT))) AS h10,
               list_min(list_transform(m2, m -> CAST(('0x'||substr(m,25,8)) AS BIGINT))) AS h11,
               list_min(list_transform(m3, m -> CAST(('0x'||substr(m,1,8)) AS BIGINT))) AS h12,
               list_min(list_transform(m3, m -> CAST(('0x'||substr(m,9,8)) AS BIGINT))) AS h13,
               list_min(list_transform(m3, m -> CAST(('0x'||substr(m,17,8)) AS BIGINT))) AS h14,
               list_min(list_transform(m3, m -> CAST(('0x'||substr(m,25,8)) AS BIGINT))) AS h15
        FROM dab
    ),
    hist AS (SELECT * FROM sigs WHERE side = 'h'),
    hmd AS (SELECT md5(text) AS h FROM corpus WHERE side = 'h'),
    bmd AS (SELECT doc_id, md5(text) AS h FROM corpus WHERE side = 'b'),
    fresh0 AS MATERIALIZED (
        SELECT doc_id, h FROM bmd WHERE h NOT IN (SELECT h FROM hmd)
    ),
    fresh AS MATERIALIZED (
        SELECT doc_id FROM fresh0 f
        WHERE doc_id = (SELECT min(doc_id) FROM fresh0 g WHERE g.h = f.h)
    ),
    nearidx AS (
        SELECT DISTINCT b.doc_id
        FROM sigs b
        JOIN fresh fr ON fr.doc_id = b.doc_id
        JOIN hist h2 ON (
            (b.h0 = h2.h0 AND b.h1 = h2.h1 AND b.h2 = h2.h2 AND b.h3 = h2.h3) OR
            (b.h4 = h2.h4 AND b.h5 = h2.h5 AND b.h6 = h2.h6 AND b.h7 = h2.h7) OR
            (b.h8 = h2.h8 AND b.h9 = h2.h9 AND b.h10 = h2.h10 AND b.h11 = h2.h11) OR
            (b.h12 = h2.h12 AND b.h13 = h2.h13 AND b.h14 = h2.h14 AND b.h15 = h2.h15)
        )
        WHERE ((CASE WHEN b.h0 = h2.h0 THEN 1 ELSE 0 END) + (CASE WHEN b.h1 = h2.h1 THEN 1 ELSE 0 END) + (CASE WHEN b.h2 = h2.h2 THEN 1 ELSE 0 END) + (CASE WHEN b.h3 = h2.h3 THEN 1 ELSE 0 END) + (CASE WHEN b.h4 = h2.h4 THEN 1 ELSE 0 END) + (CASE WHEN b.h5 = h2.h5 THEN 1 ELSE 0 END) + (CASE WHEN b.h6 = h2.h6 THEN 1 ELSE 0 END) + (CASE WHEN b.h7 = h2.h7 THEN 1 ELSE 0 END) + (CASE WHEN b.h8 = h2.h8 THEN 1 ELSE 0 END) + (CASE WHEN b.h9 = h2.h9 THEN 1 ELSE 0 END) + (CASE WHEN b.h10 = h2.h10 THEN 1 ELSE 0 END) + (CASE WHEN b.h11 = h2.h11 THEN 1 ELSE 0 END) + (CASE WHEN b.h12 = h2.h12 THEN 1 ELSE 0 END) + (CASE WHEN b.h13 = h2.h13 THEN 1 ELSE 0 END) + (CASE WHEN b.h14 = h2.h14 THEN 1 ELSE 0 END) + (CASE WHEN b.h15 = h2.h15 THEN 1 ELSE 0 END)) / 16.0 >= 0.5
    ),
    surv AS MATERIALIZED (
        SELECT doc_id FROM fresh
        WHERE doc_id NOT IN (SELECT doc_id FROM nearidx)
    ),
    ssig AS (
        SELECT g.* FROM sigs g JOIN surv sv ON sv.doc_id = g.doc_id
    ),
    bcand AS (
        SELECT x.doc_id AS pa, y.doc_id AS pb
        FROM ssig x JOIN ssig y ON x.doc_id < y.doc_id AND (
            (x.h0 = y.h0 AND x.h1 = y.h1 AND x.h2 = y.h2 AND x.h3 = y.h3) OR
            (x.h4 = y.h4 AND x.h5 = y.h5 AND x.h6 = y.h6 AND x.h7 = y.h7) OR
            (x.h8 = y.h8 AND x.h9 = y.h9 AND x.h10 = y.h10 AND x.h11 = y.h11) OR
            (x.h12 = y.h12 AND x.h13 = y.h13 AND x.h14 = y.h14 AND x.h15 = y.h15)
        )
    ),
    spairs AS MATERIALIZED (
        SELECT c.pa, c.pb
        FROM bcand c
        JOIN dsh a ON a.doc_id = c.pa
        JOIN dsh b ON b.doc_id = c.pb
        WHERE round(len(list_filter(a.s, x -> list_contains(b.s, x)))
                    / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5
    ),
    edges(a, b) AS (
        SELECT pa, pb FROM spairs UNION ALL SELECT pb, pa FROM spairs
    ),
    reach(id, rid) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.rid FROM edges e JOIN reach r ON r.id = e.b
    ),
    comp AS (SELECT id, min(rid) AS component FROM reach GROUP BY id),
    keptq AS MATERIALIZED (
        SELECT sv.doc_id FROM surv sv LEFT JOIN comp c ON c.id = sv.doc_id
        WHERE c.component IS NULL OR c.component = sv.doc_id
    )
    SELECT family, id_a, id_b, jaccard FROM adj
    UNION ALL
    SELECT 'ingest_kept' AS family, doc_id AS id_a,
           CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS jaccard
    FROM keptq
    UNION ALL
    SELECT 'ingest_index' AS family, doc_id AS id_a,
           CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS jaccard
    FROM (SELECT doc_id FROM corpus WHERE side = 'h'
          UNION ALL SELECT doc_id FROM keptq)
    """,
)
def d7_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-similarity + INCREMENTAL-INGEST suite.

    Family 'adjacent': word-set Jaccard for consecutive-id pairs
    (linear candidate generation; the LSH operators generate real
    candidates) — the original d7 certification, unchanged.

    Families 'ingest_kept' / 'ingest_index' (r8): the FULL
    incremental ingest dedup (``incremental.incremental_dedup``) in
    PORTABLE mode, end to end. History = doc_id % 8 == 0 indexed via
    ``build_dedup_index(portable=True)`` (salted-md5 quartered 32-bit
    MinHash slots — engine-reproducible); batch = doc_id % 8 == 4
    plus four PLANTED families (offsets of max(doc_id)+1, same
    arithmetic both engines) that make every elimination stage fire
    at every SF: exact copies of history docs (% 40 == 8 -> stage-1
    anti-join), exact copies of in-batch docs (% 40 == 12 ->
    stage-2 keep-lowest), near copies of history docs (% 40 == 16,
    one marker token appended -> stage-3 banded estimate), and near
    copies of in-batch docs (% 40 == 20 -> stage-4 within-batch
    verify + components).

    The oracle re-derives EVERY stage with the identical formulas —
    including both banded candidate generations on the same portable
    signatures (bucket equality == slot-slice equality), so no LSH
    recall assumption enters the certification: whatever the bands
    decide, both engines decide identically, and the exact-Jaccard
    verify bounds false positives. Certifying kept + updated-index
    MEMBERSHIP certifies the whole decision chain — membership IS the
    operator's output contract."""
    from bbdc20_submission_spark.operators.incremental import (
        build_dedup_index,
        incremental_dedup,
    )

    d = load_table(spark, "documents", sf_dir)
    toks = d.select(
        "doc_id", F.array_distinct(ws_tokens("text")).alias("ws")
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("ws").alias("wa"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("ws").alias("wb"))
    inter = F.size(F.array_intersect("wa", "wb"))
    union = F.size(F.array_union("wa", "wb"))
    adjacent = (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            F.lit("adjacent").alias("family"),
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
    )
    off = _plant_offset(spark, sf_dir, table="documents", id_col="doc_id")
    did = F.col("doc_id")
    hist = d.filter(did % 8 == 0).select("doc_id", "text")
    near = F.concat(F.col("text"), F.lit(" qq-near-marker"))

    def _plant(cls: int, k: int, text_col):
        return d.filter(did % 40 == cls).select(
            (did + k * off).alias("doc_id"), text_col.alias("text")
        )

    batch = (
        d.filter(did % 8 == 4).select("doc_id", "text")
        .unionByName(_plant(8, 1, F.col("text")))
        .unionByName(_plant(12, 2, F.col("text")))
        .unionByName(_plant(16, 3, near))
        .unionByName(_plant(20, 4, near))
    )
    # the computed index frame feeds three consumers inside the flow
    # (exact anti-join, banding, estimate join) — checkpoint so the
    # history signature build runs once, as it would when the index
    # is read from storage (the production shape). The history and
    # batch index builds are INDEPENDENT, so their materializations
    # run as two concurrent driver-submitted jobs (guide §2.6: each
    # build's straggler tail back-fills with the other's tasks) —
    # serially they were the two largest barriers of the d7 build
    # chain. Identical frames either way. (r14 note: lazy
    # eager=False checkpoints were A/B'd as the alternative — they
    # merge all three materializations into the edge-collect job —
    # and measured no better than this driver-validated overlap form
    # across five interleaved solo pairs, so the r13 shape stands.)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as ex:
        f_idx = ex.submit(
            lambda: build_dedup_index(hist, portable=True).localCheckpoint()
        )
        f_bidx = ex.submit(
            lambda: build_dedup_index(batch, portable=True).localCheckpoint()
        )
        idx, bidx = f_idx.result(), f_bidx.result()
    kept, updated = incremental_dedup(
        batch, idx, portable=True, batch_index=bidx
    )
    nb = F.lit(None).cast("long")
    nj = F.lit(None).cast("double")
    kept_rows = kept.select(
        F.lit("ingest_kept").alias("family"),
        F.col("doc_id").alias("id_a"),
        nb.alias("id_b"),
        nj.alias("jaccard"),
    )
    idx_rows = updated.select(
        F.lit("ingest_index").alias("family"),
        F.col("_id").alias("id_a"),
        nb.alias("id_b"),
        nj.alias("jaccard"),
    )
    return adjacent.unionByName(kept_rows).unionByName(idx_rows)


@query(
    "d12_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_EXACT_PAIRS_CTES},
    edges AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM ex WHERE jaccard >= 0.5
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM ex WHERE jaccard >= 0.5
    ),
    reach(id, rid) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.rid FROM edges e JOIN reach r ON r.id = e.b
    ),
    comp AS (SELECT id, min(rid) AS component FROM reach GROUP BY id),
    members AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS comp, d.n_chars
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ),
    bestk AS (
        SELECT comp, doc_id AS bid FROM (
            SELECT comp, doc_id,
                   row_number() OVER (
                       PARTITION BY comp ORDER BY n_chars DESC, doc_id ASC
                   ) AS rn
            FROM members
        ) WHERE rn = 1
    )
    SELECT m.doc_id,
           m.comp AS keep_id,
           CAST(m.comp <> m.doc_id AS BIGINT) AS is_duplicate,
           b.bid AS quality_keep_id,
           CAST(b.bid <> m.doc_id AS BIGINT) AS is_duplicate_q
    FROM members m JOIN bestk b ON b.comp = m.comp
    """,
)
def d12_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> duplicate clusters via iterative min-label
    connected components. Pairs come from the MinHash LSH candidates
    verified at jaccard >= 0.5 (= the exact pair set, see d8), so the
    cluster labels are engine-portable; the oracle recomputes them with
    a recursive CTE over the brute-force pairs.

    r6: also certifies quality-aware KEEPER RESELECTION (the
    production policy of keeping each cluster's best member rather
    than its min id): columns quality_keep_id / is_duplicate_q re-pick
    every keeper as the member with max ``n_chars`` (tie → lowest id),
    and the oracle re-derives the argmax per component. r7: the
    argmax runs driver-side inside ``dedup_clusters`` (the union-find
    membership is already collected; ``reselect_keepers`` is the
    identical-semantics all-Spark path above the edge bound)."""
    from bbdc20_submission_spark.operators.chunking import dedup_clusters

    d = load_table(spark, "documents", sf_dir)
    # n_chars rides the shingle-set frame so the verify emits it per
    # edge side — the keeper argmax then reads scores off the edges
    # dedup_clusters already collects
    sets = managed_persist(
        hashed_shingle_sets(d, shingle_k=3, carry=("n_chars",))
    )
    cands = minhash_lsh_candidates(d, shingle_k=3, num_hashes=16, bands=4, sets=sets)
    pairs = jaccard_pairs(
        d, cands, shingle_k=3, min_jaccard=0.5, broadcast_sets=True,
        sets=sets, carry=("n_chars",),
    ).filter(F.col("jaccard") >= 0.5)
    # both keeper policies ride the ONE broadcast label join inside
    # dedup_clusters (driver-side argmax over the already-collected
    # membership; reselect_keepers is its all-Spark fallback above the
    # edge bound) — a separate reselect + re-join on doc_id would be a
    # corpus-sized SortMergeJoin just to present them side by side
    # (caught by the d12 plan pin).
    both = dedup_clusters(
        d,
        pairs,
        inline_score_cols=("n_chars_a", "n_chars_b"),
        quality_keeper_col="quality_keep_id",
    )
    return both.select(
        "doc_id",
        "keep_id",
        F.col("is_duplicate").cast("long").alias("is_duplicate"),
        "quality_keep_id",
        F.col("is_duplicate_q").cast("long").alias("is_duplicate_q"),
    )


# ---------------------------------------------------------------- text ops

@query(
    "d2_text_quality",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(str_split(text, ' ')) AS n_tokens,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
               length(text)
                 - length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                 - length(regexp_replace(text, '[^0-9]', '', 'g'))
                 - length(regexp_replace(text, '[^ ]', '', 'g')) AS punct,
               len(list_filter(str_split(text, ' '),
                   x -> x IN ('the','a','of','and','is','to','in','that'))) AS sw
        FROM documents
    ),
    stats AS (
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS stat_n_chars,
               CAST(n_tokens AS BIGINT) AS stat_n_tokens,
               round(n_chars / n_tokens, 6) AS stat_avg_token_len,
               round(punct / n_chars, 6) AS stat_punct_ratio,
               round(digits / n_chars, 6) AS stat_digit_ratio,
               round(sw / n_tokens, 6) AS stat_stopword_ratio,
               round(least(n_tokens / 32.0, 1.0) * 0.4
                     + least(sw / n_tokens * 4.0, 1.0) * 0.3
                     + (1.0 - least(punct / n_chars * 4.0, 1.0)) * 0.2
                     + (1.0 - least(digits / n_chars * 4.0, 1.0)) * 0.1, 6) AS quality
        FROM s
    ),
    toks AS (
        SELECT doc_id, str_split(text, ' ') AS ws FROM documents
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(ws) AS w FROM toks)
        GROUP BY doc_id, w
    ),
    top AS (
        SELECT doc_id, max(c) AS topc, CAST(sum(c) AS BIGINT) AS nt
        FROM tf GROUP BY doc_id
    ),
    bg AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(len(ws) - 1, 1)),
                   i -> array_to_string(list_slice(ws, i, i + 1), ' ')) AS gs
        FROM toks
    ),
    bga AS (
        SELECT doc_id, len(gs) AS n2, len(list_distinct(gs)) AS d2 FROM bg
    ),
    rep AS (
        SELECT t.doc_id,
               CAST(t.topc AS BIGINT) AS top_word_count,
               round(t.topc * 1.0 / t.nt, 6) AS top_word_frac,
               round(1.0 - b.d2 * 1.0 / b.n2, 6) AS dup_2gram_frac,
               CAST(round(t.topc * 1.0 / t.nt, 6) <= 0.2
                    AND round(1.0 - b.d2 * 1.0 / b.n2, 6) <= 0.2 AS BIGINT)
                   AS repetition_ok
        FROM top t JOIN bga b ON b.doc_id = t.doc_id
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(ws) - 4, 1)),
                   i -> array_to_string(list_slice(ws, i, i + 4), ' '))) AS gs
        FROM toks
    ),
    eval_grams AS (
        SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 100 = 0
    ),
    corpus AS (
        SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 100 <> 0
    ),
    hits AS (
        SELECT c.doc_id, count(*) AS n_shared
        FROM corpus c JOIN eval_grams e ON c.g = e.g
        GROUP BY c.doc_id
    ),
    clf AS (
        SELECT doc_id, round({classifier_score_sql()}, 6) AS clf_score
        FROM documents
    )
    SELECT st.doc_id,
           st.stat_n_chars, st.stat_n_tokens, st.stat_avg_token_len,
           st.stat_punct_ratio, st.stat_digit_ratio, st.stat_stopword_ratio,
           st.quality, cl.clf_score,
           r.top_word_count, r.top_word_frac, r.dup_2gram_frac,
           r.repetition_ok,
           CASE WHEN st.doc_id % 100 = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(coalesce(h.n_shared, 0) AS BIGINT) END AS n_shared,
           CASE WHEN st.doc_id % 100 = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(coalesce(h.n_shared, 0) > 0 AS BIGINT) END AS contaminated
    FROM stats st
    JOIN rep r ON r.doc_id = st.doc_id
    JOIN clf cl ON cl.doc_id = st.doc_id
    LEFT JOIN hits h ON h.doc_id = st.doc_id
    """,
)
def d2_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation-quality SUITE: the quality-scoring stats
    block + composite score, the MODEL-BASED quality score (r6: the
    fastText/CCNet/DCLM filter stage — hashed bag-of-words linear
    classifier + sigmoid as pure codegen expressions, portable
    md5-prefix featurization so the oracle reproduces the exact
    score), the Gopher-style repetition filters (Rae et al. 2021:
    top-word fraction, duplicate-2-gram fraction, pass flag), and the
    benchmark-contamination decontamination pass (every 100th doc
    plays the held-out benchmark; corpus docs are flagged by shared
    5-gram count, eval docs carry a -1 sentinel).

    Shape: quality + repetition columns come out of ONE narrow
    projection over the documents scan (no shuffle — the score
    combines UNROUNDED ratios with a single final rounding so it
    matches the oracle's single-rounding formula bit-for-bit, and the
    repetition metrics are array folds over a materialized token
    column). Contamination broadcasts the tiny distinct eval-shingle
    set — corpus text never shuffles; the only wide exchange is the
    per-doc hit count, re-attached here by a doc_id join. The
    zero-shuffle property of the repetition block alone is pinned by
    test_plan_quality.py::test_repetition_filter_is_pure_map against
    operators.text.repetition_stats directly."""
    from bbdc20_submission_spark.operators.dedup import contamination_flags
    from bbdc20_submission_spark.operators.text import (
        _repetition_counts,
        _repetition_final_exprs,
    )

    d = load_table(spark, "documents", sf_dir)
    stat_cols = [
        "doc_id",
        "stat_n_chars",
        "stat_n_tokens",
        "stat_avg_token_len",
        "stat_punct_ratio",
        "stat_digit_ratio",
        "stat_stopword_ratio",
        "quality",
    ]
    # repetition counts ride the Arrow-batched UDF (one narrow map);
    # fractions/flags stay Spark expressions so the oracle's rounding
    # formulas hold bit-for-bit. [1:] drops its n_tokens — identical
    # to stat_n_tokens (both = whitespace token count), kept once
    narrow = (
        classifier_quality_score(quality_score(d))
        .select(
            *stat_cols,
            F.round("clf_score", 6).alias("clf_score"),
            _repetition_counts(F.col("text")).alias("_r"),
        )
        .select(*stat_cols, "clf_score", *_repetition_final_exprs(0.2, 0.2)[1:])
    )
    eval_set = d.filter(F.col("doc_id") % 100 == 0)
    corpus = d.filter(F.col("doc_id") % 100 != 0)
    cont = contamination_flags(corpus, eval_set, k=5)
    is_eval = F.col("doc_id") % 100 == 0
    return narrow.join(cont, "doc_id", "left").select(
        "doc_id",
        "stat_n_chars",
        "stat_n_tokens",
        "stat_avg_token_len",
        "stat_punct_ratio",
        "stat_digit_ratio",
        "stat_stopword_ratio",
        "quality",
        "clf_score",
        "top_word_count",
        "top_word_frac",
        "dup_2gram_frac",
        "repetition_ok",
        F.when(is_eval, F.lit(-1))
        .otherwise(F.coalesce(F.col("n_shared"), F.lit(0)))
        .cast("long")
        .alias("n_shared"),
        F.when(is_eval, F.lit(-1))
        .otherwise(F.coalesce(F.col("contaminated"), F.lit(0)))
        .cast("long")
        .alias("contaminated"),
    )


@query(
    "d4_language_id",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               len(list_filter(str_split(text,' '), x -> x IN {tuple(STOPWORDS['de'])})) AS h_de,
               len(list_filter(str_split(text,' '), x -> x IN {tuple(STOPWORDS['en'])})) AS h_en,
               len(list_filter(str_split(text,' '), x -> x IN {tuple(STOPWORDS['es'])})) AS h_es,
               len(list_filter(str_split(text,' '), x -> x IN {tuple(STOPWORDS['fr'])})) AS h_fr,
               len(list_filter(str_split(text,' '), x -> x IN {tuple(STOPWORDS['zh'])})) AS h_zh
        FROM documents
    ),
    lang AS (
        SELECT doc_id,
               CASE WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
                    WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
                    WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
                    WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
                    ELSE 'zh' END AS lang_pred
        FROM h
    ),
    hashed AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))
                    AS BIGINT) % 1048576 AS bucket
        FROM documents
    ),
    bern AS (
        SELECT doc_id FROM hashed
        WHERE bucket < CASE lang
            WHEN 'en' THEN CAST(0.5 * 1048576 AS BIGINT)
            WHEN 'de' THEN CAST(0.25 * 1048576 AS BIGINT)
            ELSE CAST(0.1 * 1048576 AS BIGINT) END
    ),
    res AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rk
            FROM hashed
        ) WHERE rk <= 10
    ),
    mixdim AS (
        SELECT lang,
               CAST(floor(least(CAST(1048576 AS DOUBLE),
                   CAST('0.4' AS DOUBLE)
                   * (SELECT CAST(count(*) AS DOUBLE) FROM documents)
                   * (CASE lang WHEN 'de' THEN CAST('0.3' AS DOUBLE)
                                WHEN 'en' THEN CAST('0.6' AS DOUBLE)
                                WHEN 'fr' THEN CAST('0.1' AS DOUBLE)
                                ELSE CAST('0.0' AS DOUBLE) END)
                   / CAST(count(*) AS DOUBLE) * 1048576)) AS BIGINT) AS thr
        FROM documents GROUP BY lang
    ),
    mix AS (
        SELECT h.doc_id FROM hashed h
        JOIN mixdim m ON m.lang = h.lang
        WHERE h.bucket < m.thr
    ),
    tbs AS (
        SELECT h.doc_id, h.lang, h.bucket,
               len(str_split(d.text, ' ')) AS tk
        FROM hashed h JOIN documents d ON d.doc_id = h.doc_id
    ),
    tb AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   coalesce(sum(tk) OVER (PARTITION BY lang
                       ORDER BY bucket, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cumb
            FROM tbs
        ) WHERE cumb < 2000
    ),
    toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
    dbi AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks)
    ),
    uni AS (
        SELECT w, count(*) AS c1
        FROM (SELECT unnest(t) AS w FROM toks)
        GROUP BY w
    ),
    bi AS (SELECT w1, w2, count(*) AS c2 FROM dbi GROUP BY w1, w2),
    vv AS (SELECT CAST(count(*) AS DOUBLE) AS V FROM uni),
    lm AS (
        SELECT d.doc_id,
               count(*) AS n_bigrams,
               round(avg(ln((b.c2 + CAST('0.5' AS DOUBLE))
                            / (u.c1 + CAST('0.5' AS DOUBLE) * v.V))), 6)
                   AS lm_logp
        FROM dbi d
        JOIN uni u ON d.w1 = u.w
        JOIN bi b ON d.w1 = b.w1 AND d.w2 = b.w2
        CROSS JOIN vv v
        GROUP BY d.doc_id
    )
    SELECT l.doc_id, l.lang_pred,
           CAST(b.doc_id IS NOT NULL AS BIGINT) AS in_bernoulli,
           CAST(r.doc_id IS NOT NULL AS BIGINT) AS in_reservoir,
           CAST(x.doc_id IS NOT NULL AS BIGINT) AS in_mixture,
           CAST(t.doc_id IS NOT NULL AS BIGINT) AS in_token_budget,
           CAST(COALESCE(m.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           COALESCE(m.lm_logp, CAST('0.0' AS DOUBLE)) AS lm_logp,
           CASE WHEN hh.bucket < 838860 THEN 'train'
                WHEN hh.bucket < 943718 THEN 'val'
                ELSE 'test' END AS split
    FROM lang l
    LEFT JOIN bern b ON b.doc_id = l.doc_id
    LEFT JOIN res r ON r.doc_id = l.doc_id
    LEFT JOIN mix x ON x.doc_id = l.doc_id
    LEFT JOIN tb t ON t.doc_id = l.doc_id
    LEFT JOIN lm m ON m.doc_id = l.doc_id
    JOIN hashed hh ON hh.doc_id = l.doc_id
    """,
)
def d4_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language/stratum SUITE: heuristic stopword-vote language ID
    (ties -> alphabetical) plus deterministic curation-sampling
    MEMBERSHIP over the table's lang strata — in_bernoulli (stratified
    Bernoulli at per-language rates via the engine-portable md5 hash,
    so the sample set itself is reproducible in any engine) and
    in_reservoir (exactly-10-per-language hash-order reservoir). Both
    samples are pure functions of the data — identical on 500 rows or
    100 TB of splits, on any partitioning; certifying per-doc
    membership flags is equivalent to certifying the sample sets.

    r6: also certifies DATA MIXING (``mixture_sample`` — DoReMi/Pile-
    weights resampling toward target lang shares 60/30/10 at
    total_fraction 0.4; the oracle re-derives the per-stratum rates
    from counts and weights and reproduces membership) and the
    CCNet/KenLM-style corpus-LM perplexity
    filter — ``bigram_lm_scores`` fits an add-0.5-smoothed bigram LM
    on the corpus distributively (explode + count shuffles, broadcast
    1-row vocab-size aggregate, no driver collect) and emits per-doc
    ``n_bigrams`` + ``lm_logp`` (avg ln P per bigram, 6dp); the oracle
    reproduces fit AND scoring with the same formula.

    r6b: also certifies TOKEN-BUDGET sampling (``token_budget_sample``
    — training mixtures are specified in tokens, not row rates): keep
    each lang stratum's docs in md5-hash order until 2000 ws-tokens
    are reached, first overshooting doc included. The Spark side runs
    the two-phase bounded-state form (per-coarse-bucket sums →
    broadcast cutoff dim → doc window only inside the one straddling
    bucket); the oracle re-derives membership with the naive
    one-window spec — green means the factorization is exact."""
    from bbdc20_submission_spark.operators.sampling import (
        mixture_sample,
        reservoir_per_stratum,
        split_assign,
        stratified_sample,
        token_budget_sample,
    )
    from bbdc20_submission_spark.operators.text import bigram_lm_scores, ws_tokens

    d = load_table(spark, "documents", sf_dir)
    lang = language_id(d).select("doc_id", "lang_pred")
    lm = bigram_lm_scores(d)
    mix = mixture_sample(
        d.select("doc_id", "lang"),
        "lang",
        {"en": 0.6, "de": 0.3, "fr": 0.1},
        total_fraction=0.4,
        seed=7,
        portable=True,
    ).select("doc_id", F.lit(1).alias("_x"))
    dl = d.select("doc_id", "lang")
    bern = stratified_sample(
        dl, "lang", {"en": 0.5, "de": 0.25}, default_fraction=0.1,
        seed=7, portable=True,
    ).select("doc_id", F.lit(1).alias("_b"))
    res = reservoir_per_stratum(
        dl, ["lang"], k=10, seed=7, portable=True
    ).select("doc_id", F.lit(1).alias("_r"))
    tb = token_budget_sample(
        d.select(
            "doc_id", "lang", F.size(ws_tokens(F.col("text"))).alias("_tk")
        ),
        "lang",
        2000,
        "_tk",
        seed=7,
        portable=True,
    ).select("doc_id", F.lit(1).alias("_t"))
    joined = (
        lang.join(bern, "doc_id", "left")
        .join(res, "doc_id", "left")
        .join(mix, "doc_id", "left")
        .join(tb, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .select(
            "doc_id",
            "lang_pred",
            F.coalesce(F.col("_b"), F.lit(0)).cast("long").alias("in_bernoulli"),
            F.coalesce(F.col("_r"), F.lit(0)).cast("long").alias("in_reservoir"),
            F.coalesce(F.col("_x"), F.lit(0)).cast("long").alias("in_mixture"),
            F.coalesce(F.col("_t"), F.lit(0)).cast("long").alias("in_token_budget"),
            "n_bigrams",
            "lm_logp",
        )
    )
    # r6: deterministic train/val/test assignment — one narrow column
    # on the already-joined frame (no extra join; the oracle reuses
    # the same md5 seed-7 bucket its samplers certify).
    return split_assign(joined, portable=True, seed=7)


_BANNER = (
    "this content is provided under the standard license agreement "
    "all rights reserved see terms for details"
)  # exactly 16 whitespace tokens = one chunk at chunk_tokens=16


@query(
    "d5_token_fingerprint",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id,
               CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS bpe_tokens,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(str_split(text, ' '),
                     x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % 1000000007)),
                 (acc, x) -> (acc * 257 + x) % 1000000007) AS fingerprint
        FROM documents
    ),
    docs AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN '{_BANNER} ' || text
                    ELSE text END AS text
        FROM documents
    ), btoks AS (
        SELECT doc_id, str_split(text, ' ') AS t FROM docs
    ), chunks AS (
        SELECT doc_id, chunk_id,
               array_to_string(t[(chunk_id * 16 + 1):(chunk_id * 16 + 16)], ' ')
                   AS chunk_text
        FROM (SELECT doc_id, t,
                     unnest(generate_series(0,
                         CAST(greatest(ceil(len(t) / 16.0), 1) AS BIGINT) - 1))
                         AS chunk_id
              FROM btoks)
    ), hashed AS (
        SELECT doc_id, chunk_id, chunk_text, md5(chunk_text) AS h FROM chunks
    ), flagged AS (
        SELECT h FROM hashed GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), marked AS (
        SELECT doc_id, chunk_id, chunk_text,
               (h IN (SELECT h FROM flagged)) AS bp
        FROM hashed
    ), bpout AS (
        SELECT doc_id,
               CAST(count(*) FILTER (WHERE bp) AS BIGINT) AS n_chunks_removed,
               md5(coalesce(
                   string_agg(chunk_text, ' ' ORDER BY chunk_id)
                       FILTER (WHERE NOT bp),
                   '')) AS clean_hash
        FROM marked GROUP BY doc_id
    ),
    st AS MATERIALIZED (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
    socc AS (
        SELECT doc_id, i AS s, md5(array_to_string(t[i:i+7], ' ')) AS h
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 7)) AS i
              FROM st)
    ),
    sdup AS (SELECT h FROM socc GROUP BY h HAVING count(*) >= 2),
    sfl AS (SELECT doc_id, s, s + 7 AS e FROM socc
            WHERE h IN (SELECT h FROM sdup)),
    sisl0 AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pme
        FROM sfl
    ),
    sisl1 AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS isl
        FROM sisl0
    ),
    sisl AS (SELECT doc_id, isl, min(s) AS s, max(e) AS e
             FROM sisl1 GROUP BY doc_id, isl),
    ssp AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
               CAST(sum(e - s + 1) AS BIGINT) AS span_tokens_removed,
               list(struct_pack(s := s, e := e)) AS spans
        FROM sisl GROUP BY doc_id
    ),
    sclean AS (
        SELECT st.doc_id,
               CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
               CAST(coalesce(p.span_tokens_removed, 0) AS BIGINT)
                   AS span_tokens_removed,
               md5(coalesce(array_to_string(list_transform(
                   list_filter(generate_series(1, len(st.t)),
                       i -> p.spans IS NULL
                            OR len(list_filter(p.spans,
                                   sp -> i >= sp.s AND i <= sp.e)) = 0),
                   i -> st.t[i]), ' '), '')) AS span_clean_hash
        FROM st LEFT JOIN ssp p ON p.doc_id = st.doc_id
    ),
    cev AS (
        SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS w
        FROM (SELECT t, unnest(generate_series(1, len(t) - 4)) AS i
              FROM st WHERE doc_id % 11 = 3)
    ),
    cocc AS (
        SELECT doc_id, i AS s, i + 4 AS e,
               array_to_string(t[i:i+4], ' ') AS w
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 4)) AS i
              FROM st)
    ),
    cfl AS (SELECT doc_id, s, e FROM cocc WHERE w IN (SELECT w FROM cev)),
    cisl0 AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pme
        FROM cfl
    ),
    cisl1 AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS isl
        FROM cisl0
    ),
    cisl AS (SELECT doc_id, isl, min(s) AS s, max(e) AS e
             FROM cisl1 GROUP BY doc_id, isl),
    csp AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam_spans,
               CAST(sum(e - s + 1) AS BIGINT) AS contam_tokens_removed,
               list(struct_pack(s := s, e := e)) AS spans
        FROM cisl GROUP BY doc_id
    ),
    cclean AS (
        SELECT st.doc_id,
               CAST(coalesce(p.n_contam_spans, 0) AS BIGINT) AS n_contam_spans,
               CAST(coalesce(p.contam_tokens_removed, 0) AS BIGINT)
                   AS contam_tokens_removed,
               md5(coalesce(array_to_string(list_transform(
                   list_filter(generate_series(1, len(st.t)),
                       i -> p.spans IS NULL
                            OR len(list_filter(p.spans,
                                   sp -> i >= sp.s AND i <= sp.e)) = 0),
                   i -> st.t[i]), ' '), '')) AS contam_clean_hash
        FROM st LEFT JOIN csp p ON p.doc_id = st.doc_id
    )
    SELECT f.doc_id, f.ws_tokens, f.bpe_tokens, f.fingerprint,
           b.n_chunks_removed, b.clean_hash,
           s.n_dup_spans, s.span_tokens_removed, s.span_clean_hash,
           c.n_contam_spans, c.contam_tokens_removed, c.contam_clean_hash
    FROM fp f
    JOIN bpout b ON b.doc_id = f.doc_id
    JOIN sclean s ON s.doc_id = f.doc_id
    JOIN cclean c ON c.doc_id = f.doc_id
    """,
)
def d5_token_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-fingerprint SUITE: token counting (whitespace + BPE-ish
    regex modes), the rolling polynomial document fingerprint, and the
    cross-document repeated-chunk boilerplate detect + strip end to end
    (Lee-et-al-style chunk-granular substring dedup).

    The fingerprint uses the engine-portable md5-prefix token hash so
    DuckDB reproduces it bit-for-bit (the xxhash64 variant in
    operators/text.rolling_fingerprint is the max-throughput form).
    For the boilerplate half, every 7th doc gets a 16-token license
    banner prepended INSIDE the query (same arithmetic both engines),
    so the certified result is non-vacuous: the banner chunk appears in
    ~n/7 docs, gets flagged (min_docs=2), and is stripped; clean_hash
    certifies the reassembled text byte-for-byte via md5. Text shuffles
    only for flagged chunks.

    r6: also certifies sliding-window exact duplicate-SUBSTRING dedup
    (``dedup.duplicate_span_stats`` — the suffix-array method of Lee
    et al. 2022 re-expressed relationally: 8-token stride-1 windows,
    any window repeated >=2 times in the corpus marks its interval,
    intervals merge per doc, covered tokens are removed).
    span_clean_hash certifies detection + merging + removal
    byte-for-byte; the corpus's exact-duplicate docs make the result
    non-vacuous (every window of a duplicated doc repeats).

    r8: also certifies benchmark DECONTAMINATION by span removal
    (``dedup.decontaminate_spans`` — the shipping form of the
    d2-certified contamination CHECK): every corpus token span
    matching a 5-token window of an eval set derived in-query (docs
    with doc_id % 11 == 3, same arithmetic both engines) is excised
    through the same interval-merge tail. Non-vacuous at every SF —
    eval docs self-flag end to end, their exact duplicates are fully
    excised, partial 5-gram overlaps excise sub-spans.
    contam_clean_hash certifies detection + merge + removal
    byte-for-byte. Scale shape: the DISTINCT eval window-hash set is
    BROADCAST (benchmarks are tiny next to a 100 TB corpus); the
    corpus side is one narrow stride-1 window explode — text never
    shuffles. Spark matches windows by xxhash64 over the token slice,
    the oracle by the window string — membership-equal barring 64-bit
    collisions (the certification's standing risk class)."""
    from bbdc20_submission_spark.operators.chunking import (
        boilerplate_chunks,
        strip_boilerplate,
    )
    from bbdc20_submission_spark.operators.dedup import (
        decontaminate_spans,
        duplicate_span_stats,
    )

    d = load_table(spark, "documents", sf_dir)
    # token array projected once (two references — size + the
    # fingerprint fold — block CollapseProject): the single-select
    # form re-split the text twice per row in an interpreted
    # HOF-bearing Project (no codegen CSE)
    fp = d.select(
        "doc_id", "text", F.expr(_WS_TOKENS_TEXT_SQL).alias("_fp_toks")
    ).select(
        "doc_id",
        F.size("_fp_toks").cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_PATTERN), 0))
        .cast("long")
        .alias("bpe_tokens"),
        portable_fingerprint("`_fp_toks`").alias("fingerprint"),
    )
    # duplicate_span_stats runs ONE eager job at build time (its
    # dup-hash guard count, which also populates the persisted dup
    # set) — the only job of the whole d5 build. The other three
    # families are pure plan assembly (driver-side py4j), independent
    # of it, so run the span build in a worker thread and let its
    # cluster job overlap the main thread's plan construction
    # (guide §2.6). Identical frame either way.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(1) as _pool:
        spans_future = _pool.submit(
            duplicate_span_stats, d, span_tokens=8, min_count=2
        )
        docs = d.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(_BANNER + " "), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        flagged = boilerplate_chunks(docs, chunk_tokens=16, min_docs=2)
        stripped = strip_boilerplate(docs, flagged, chunk_tokens=16)
        decon = decontaminate_spans(
            d, d.filter(F.col("doc_id") % 11 == 3).select("text"), k=5
        )
        spans = spans_future.result()
    return (
        fp.join(
            stripped.select(
                "doc_id",
                "n_chunks_removed",
                F.md5("text_clean").alias("clean_hash"),
            ),
            "doc_id",
        )
        .join(
            spans.select(
                "doc_id",
                "n_dup_spans",
                "span_tokens_removed",
                F.md5("clean_text").alias("span_clean_hash"),
            ),
            "doc_id",
        )
        .join(
            decon.select(
                "doc_id",
                "n_contam_spans",
                "contam_tokens_removed",
                F.md5("clean_text").alias("contam_clean_hash"),
            ),
            "doc_id",
        )
    )


# ------------------------------------------------------------- similarity

def _lsh_bucket_sql(dim: int = 64, n_planes: int = 6) -> str:
    """DuckDB expression reproducing lsh_bucket_signature exactly: the
    hyperplanes are deterministic literals, so the oracle recomputes
    the same sign buckets with list_dot_product."""
    # quoted-string ::DOUBLE casts: bare decimal literals double-round
    # through DECIMAL in DuckDB (harmless for these sign comparisons
    # in practice, but exact literals remove the risk class entirely)
    terms = []
    for i, p in enumerate(_hyperplanes(dim, n_planes)):
        w = ", ".join(f"'{x!r}'::DOUBLE" for x in p)
        terms.append(
            "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{w}]) > 0 THEN {1 << i} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


@query(
    "s_topk_suite",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, c.vec_id AS match_id,
               list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) AS sim
        FROM embeddings c, q
        WHERE c.vec_id <> q.query_id
    ), exact_ranked AS (
        SELECT query_id, match_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, match_id ASC) AS rank
        FROM scored
    ),
    lsig AS (
        SELECT vec_id, embedding, {_lsh_bucket_sql(64, 6)} AS bucket FROM embeddings
    ), lq AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM lsig WHERE vec_id < 5),
    lscored AS (
        SELECT lq.query_id, c.vec_id AS match_id,
               list_cosine_similarity(CAST(lq.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
        FROM lsig c JOIN lq USING (bucket)
        WHERE c.vec_id <> lq.query_id
    ), lsh_ranked AS (
        SELECT query_id, match_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, match_id ASC) AS rank
        FROM lscored
    ),
    qscaled AS (
        SELECT vec_id, embedding,
               CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS s
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                         x -> abs(CAST(x AS DOUBLE)))) AS m
              FROM embeddings)
    ), qv AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> round(CAST(x AS DOUBLE) / s)) AS qe
        FROM qscaled
    ), qscored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                      CAST(c.qe AS DOUBLE[])) AS sim
        FROM qv c, qv q
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ), quant_ranked AS (
        SELECT query_id, match_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, match_id ASC) AS rank
        FROM qscored
    ),
    rp AS (
        SELECT vec_id,
               {random_projection_sql("CAST(embedding AS DOUBLE[])", 64, 16)} AS e
        FROM embeddings
    ), rpscored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               list_cosine_similarity(q.e, c.e) AS sim
        FROM rp c, rp q
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ), rp_ranked AS (
        SELECT query_id, match_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, match_id ASC) AS rank
        FROM rpscored
    )
    SELECT 'exact' AS family, query_id, match_id, round(sim, 6) AS sim, rank
    FROM exact_ranked WHERE rank <= 3
    UNION ALL
    SELECT 'lsh' AS family, query_id, match_id, round(sim, 6) AS sim, rank
    FROM lsh_ranked WHERE rank <= 3
    UNION ALL
    SELECT 'quantized' AS family, query_id, match_id, round(sim, 6) AS sim, rank
    FROM quant_ranked WHERE rank <= 3
    UNION ALL
    SELECT 'rp' AS family, query_id, match_id, round(sim, 6) AS sim, rank
    FROM rp_ranked WHERE rank <= 3
    """,
)
def s_topk_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k SUITE: three cosine top-3 retrieval paths for the same
    query set (vec_id < 5), unioned with a family tag —

    - ``exact``: brute-force baseline; broadcast queries, one corpus
      pass (the exactness yardstick; at scale callers use the others).
    - ``lsh``: LSH-bucketed approximate top-k (the scale path: a bucket
      equi-join replaces the cross product). The hyperplanes are
      deterministic literals, so DuckDB recomputes the identical sign
      buckets and within-bucket ranking — a green hash certifies the
      whole LSH mechanism, not just its shape. Recall vs brute force is
      asserted separately in tests/test_similarity.py.
    - ``quantized``: top-k over int8-QUANTIZED embeddings
      (q = round(x/s), s = max|x|/127) — certifies the quantization
      arithmetic itself cross-engine: DuckDB reproduces the per-vector
      scale, the rounded int8 components, and the quantized cosine
      bit-for-bit at 6 decimals. The 4x-smaller working set is what
      makes the ANN paths memory-feasible at 100 TB; quantize + score
      stay pure narrow array expressions.
    - ``rp`` (r6): top-k over Johnson-Lindenstrauss RANDOM-PROJECTED
      vectors (64 -> 16 dims against deterministic portable
      hyperplanes) — the shrink-before-ANN path; DuckDB recomputes the
      projected vectors BIT-FOR-BIT (same left-fold dot products,
      string-cast double literals — bare decimals double-round through
      DECIMAL) and the projected-space ranking with them."""
    from bbdc20_submission_spark.operators.similarity import (
        quantize_embeddings,
        random_projection,
    )

    em = load_table(spark, "embeddings", sf_dir)
    queries = em.filter(F.col("vec_id") < 5)

    exact = cosine_topk_bruteforce(em, queries, k=3)
    lsh = cosine_topk_lsh(em, queries, dim=64, k=3, n_planes=6)
    proj = em.select(
        "vec_id", random_projection("embedding", 64, 16).alias("emb_rp")
    )
    rp = cosine_topk_bruteforce(
        proj, proj.filter(F.col("vec_id") < 5), k=3, vec_col="emb_rp"
    )

    # r12: Spark evaluates higher-order array functions INTERPRETED,
    # per element — measured ~2 us per lambda eval — so the number of
    # HOF passes, not the arithmetic, is the cost. The generic
    # dequantize_cosine form paid ~8 passes per PAIR (two cast
    # transforms + zip_with + two norm transforms + three folds):
    # 71.7 s of the suite's 83 s at the 64x probe. Here: the norm is
    # ONE fold per ROW over the int8 array (cast inside the lambda —
    # the same x^2 products and left-fold adds l2_norm(cast(...))
    # produces, bit-identical to the oracle's CAST(qe AS DOUBLE[])
    # cosine), and each pair pays exactly one zip_with + one fold
    # (dot casts inside its lambda). 64x probe: 83 -> 26 s.
    from bbdc20_submission_spark.operators.similarity import cosine_sql

    from bbdc20_submission_spark.caching import managed_persist

    # persist BEFORE any expression references embedding_q without
    # also projecting the scale column: projection collapse inlines
    # the scale subtree (array_max over the vector) into the quantize
    # lambda PER ELEMENT once the scale stops being a sibling output
    # — and interpreted HOFs have no common-subexpression
    # elimination, so that quietly turns the per-row prep O(dim^2)
    # (measured: 3.8 s -> 64 s on 128k vectors). The boundary pins
    # the certified one-pass shape; ~10 MB at 128k vectors.
    qz = managed_persist(
        quantize_embeddings(em).select(
            "vec_id", "embedding_q", "embedding_q_scale"
        )
    )
    # the norm's one-fold-per-row shape is unchanged; the expression
    # rides a SQL string (r13 build sweep, sameSemantics-identical)
    qz = qz.selectExpr(
        "vec_id",
        "embedding_q AS _qi",
        "sqrt(aggregate(embedding_q, 0.0D, "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS _qn",
    )
    qa = qz.select(
        F.col("vec_id").alias("query_id"),
        F.col("_qi").alias("_qa"),
        F.col("_qn").alias("_na"),
    ).filter(F.col("query_id") < 5)
    qb = qz.select(
        F.col("vec_id").alias("match_id"),
        F.col("_qi").alias("_qb"),
        F.col("_qn").alias("_nb"),
    )
    qscored = (
        qb.crossJoin(F.broadcast(qa))
        .filter(F.col("match_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "match_id",
            f"{cosine_sql('_qa', '_qb', '_na', '_nb')} AS _sim",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("match_id").asc()
    )
    quant = (
        qscored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "match_id",
            F.round("_sim", 6).alias("sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )

    def tag(df: DataFrame, family: str, sim_col: str) -> DataFrame:
        return df.select(
            F.lit(family).alias("family"),
            "query_id",
            "match_id",
            F.col(sim_col).alias("sim"),
            F.col("rank").cast("long").alias("rank"),
        )

    return (
        tag(exact, "exact", "cosine_sim")
        .unionByName(tag(lsh, "lsh", "cosine_sim"))
        .unionByName(tag(quant, "quantized", "sim"))
        .unionByName(tag(rp, "rp", "cosine_sim"))
    )


@query(
    "s3_embedding_near_dups",
    oracle="""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
    ), off AS (
        SELECT max(vec_id) + 1 AS o FROM embeddings
    ), planted AS (
        SELECT vec_id + (SELECT o FROM off) AS vec_id,
               list_transform(generate_series(1, 64),
                              i -> embedding[i] * 0.98 + embedding[65 - i] * 0.02) AS embedding
        FROM base WHERE vec_id < 8
    ), aug AS (
        SELECT * FROM base UNION ALL SELECT * FROM planted
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cosine_sim
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9
    """,
)
def s3_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (banded LSH + exact
    verify) against the brute-force oracle pair set — same
    certification pattern as d8: emitted pairs are exact-verified, so
    green means the LSH bucketing lost nothing on this corpus.

    The harness embeddings are i.i.d. (max pairwise cosine ~0.51), so
    a 0.9 threshold alone certifies vacuously (0 pairs). Both engines
    therefore plant 8 deterministic near-duplicates — vec_id offset
    by max(vec_id)+1 (collision-proof at any scale, same subquery in
    the oracle), embedding' = 0.98*e + 0.02*reverse(e), cosine
    ~0.9998 — built
    from the same arithmetic on both sides, making the certified pair
    set non-empty: the green hash proves the 4-band LSH actually
    recovered every planted pair (miss probability per pair at this
    angle ~7e-6; verified deterministically at every test SF)."""
    off = _plant_offset(spark, sf_dir)
    em = load_table(spark, "embeddings", sf_dir)
    base = em.select("vec_id", F.expr(_V_DBL_SQL).alias("embedding"))
    planted = em.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"),
        F.expr(_twin_sql(0.98, 0.02)).alias("embedding"),
    )
    aug = base.unionByName(planted)
    return embedding_near_dups(aug, threshold=0.9, n_planes=8, dim=64, n_bands=4)


@query(
    "s4_kmeans_clusters",
    oracle="""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
    ), off AS (
        SELECT max(vec_id) + 1 AS o FROM embeddings
    ), planted AS (
        SELECT vec_id + (SELECT o FROM off) AS vec_id,
               list_transform(generate_series(1, 64),
                              i -> embedding[i] * 0.995 + embedding[65 - i] * 0.005) AS embedding
        FROM base WHERE vec_id < 8
    ), aug AS (
        SELECT * FROM base UNION ALL SELECT * FROM planted
    )
    SELECT vec_id,
           CAST(list_position(embedding, list_max(embedding)) - 1 AS BIGINT) AS argmax_idx,
           CAST(1 AS BIGINT) AS nearest_ok,
           CAST(vec_id >= (SELECT o FROM off) AS BIGINT) AS pruned,
           CASE WHEN vec_id >= (SELECT o FROM off)
                THEN vec_id - (SELECT o FROM off) END AS keeper_id
    FROM aug
    """,
)
def s4_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering SUITE: driver-fit KMeans quantizer over embeddings
    (corpus stratification / IVF coarse quantizer) + A13 argmax
    certification, plus SemDeDup semantic deduplication built on the
    same corpus — certified against PLANTED GROUND TRUTH, not
    self-checking flags (the r5 advice): 8 near-twins are planted
    (vec_id offset by max(vec_id)+1 — collision-proof at any scale,
    same subquery in the oracle; e' = 0.995·e + 0.005·reverse(e), cosine ≈ 0.99999
    to the original; the same arithmetic s3 certifies cross-engine),
    and the oracle predicts SemDeDup's full output EXACTLY — every
    planted row must be pruned with keeper_id = its original (the only
    lower-id vector clearing the 0.95 threshold: i.i.d. background
    pairs top out near cosine 0.5), every base row kept. A broken
    cell assignment, pair generation, threshold, or keep-lowest-id
    rule flips hashed values.

    Cluster ids depend on the sampled init (engine/partitioning-
    specific), so they are not hashed; nearest_ok instead certifies
    assignment by CROSS-PATH agreement (codegen expression argmin vs
    the Arrow-batched numpy matmul argmin — independent arithmetic;
    see kmeans_assign_checked). argmax_idx (ties -> first, ref
    probs.argmax(axis=1), generate_submission.py:487) is exactly
    oracle-checked over base AND planted vectors. Row counts ride
    parquet FOOTER metadata (table_row_count) into approx_n, so
    SemDeDup's auto-k costs no extra count() scan."""
    from bbdc20_submission_spark.operators.clustering import (
        fit_quantizers,
        kmeans_assign_checked,
        semantic_dedup,
        semdedup_auto_k,
    )
    THRESH = 0.95
    off = _plant_offset(spark, sf_dir)
    em = load_table(spark, "embeddings", sf_dir)
    base = em.select("vec_id", F.expr(_V_DBL_SQL).alias("embedding"))
    planted = em.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"),
        F.expr(_twin_sql(0.995, 0.005)).alias("embedding"),
    )
    aug = base.unionByName(planted)
    n_hint = table_row_count("embeddings", sf_dir)
    approx_n = (n_hint + 8) if n_hint is not None else None
    # BOTH quantizers (k=8 certification + the finer SemDeDup one) fit
    # from ONE sample scan — fit_quantizers collects the shared seeded
    # sample once; semdedup_auto_k reproduces the k semantic_dedup's
    # auto path would have chosen, so passing the pre-fit model skips
    # its internal fit entirely
    n_for_k = approx_n if approx_n is not None else aug.count()
    k_sd = semdedup_auto_k(n_for_k, target_cell_size=64)
    quant, quant_sd = fit_quantizers(
        aug, ks=[8, k_sd], max_iter=5, fit_fraction=0.5, approx_n=approx_n
    )
    # argmax + nearest_ok + the vector ride ONE narrow scan (keep_cols)
    # — no self-join of aug to re-attach columns that never left it
    checked = kmeans_assign_checked(
        aug, k=8, model=quant, keep_cols=("embedding",)
    ).withColumn("argmax_idx", argmax_array("embedding"))
    # sd gets a FINER quantizer than the k=8 certification one: cell
    # pair volume is O(n·cell_size), so smaller cells = fewer
    # exact-dot pairs, and auto-k (n / target_cell_size) keeps that
    # volume LINEAR in n — a fixed k measured 22.9x wall on 16x data
    # in the scale probe. The planted-twin predictions are
    # k-independent (near-identical twins co-locate at any k).
    sd = semantic_dedup(aug, threshold=THRESH, model=quant_sd,
                        target_cell_size=64, approx_n=approx_n)
    return checked.join(sd, "vec_id").select(
        "vec_id", "argmax_idx", "nearest_ok", "pruned", "keeper_id"
    )


@query(
    "s5_ivf_topk",
    oracle="""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
    ), q AS (
        SELECT * FROM base WHERE vec_id < 5
    ), off AS (
        SELECT max(vec_id) + 1 AS o FROM embeddings
    ), twins AS (
        SELECT vec_id + (SELECT o FROM off) AS vec_id,
               list_transform(generate_series(1, 64),
                              i -> embedding[i] * 0.995 + embedding[65 - i] * 0.005) AS embedding
        FROM q
    ), corpus AS (
        SELECT * FROM base UNION ALL SELECT * FROM twins
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               list_cosine_similarity(q.embedding, c.embedding) AS sim
        FROM corpus c, q WHERE c.vec_id <> q.vec_id
    ), ranked AS (
        SELECT query_id, match_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, match_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, match_id, round(sim, 6) AS cosine_sim, rank,
           CAST(1 AS BIGINT) AS twin_found
    FROM ranked WHERE rank <= 3
    """,
)
def s5_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (KMeans-cell) approximate cosine top-k — the clustered scale
    path beside the LSH one — certified against PLANTED GROUND TRUTH
    plus the exact brute-force side (the r5 advice: the old oracle was
    an all-1 invariant block).

    A near-twin of every query is planted into the corpus
    (vec_id offset by max(vec_id)+1 — collision-proof at any scale,
    same subquery in the oracle; e' = 0.995·e + 0.005·reverse(e), cosine ≈ 0.99999
    — i.i.d. background pairs top out near 0.5, so the twin is the
    undisputed exact top-1). The certified output is the EXACT top-3
    (query_id, match_id, cosine, rank — every value recomputed by
    DuckDB's own brute force, the s_topk exact pattern) joined with
    ``twin_found``: 1 iff the IVF path actually retrieved the planted
    twin among its top-k. The oracle predicts twin_found = 1 — true
    only if quantizer assignment co-locates twin and query, nprobe
    probing reaches the cell, and the within-cell re-rank surfaces it;
    any breakage in those stages hash-mismatches. Honest-approximate
    recall on the unplanted background (~0.5 at nprobe=2 on i.i.d.
    vectors) stays property-tested in tests/test_similarity.py."""
    from bbdc20_submission_spark.operators.clustering import ivf_topk

    off = _plant_offset(spark, sf_dir)
    em = load_table(spark, "embeddings", sf_dir)
    base = em.select("vec_id", F.expr(_V_DBL_SQL).alias("embedding"))
    q = base.filter(F.col("vec_id") < 5)
    twins = q.select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"),
        F.expr(
            "zip_with(embedding, reverse(embedding), "
            "(x, y) -> x * 0.995D + y * 0.005D)"
        ).alias("embedding"),
    )
    corpus = base.unionByName(twins)
    # quantizer fit on a 25% seeded sample of the corpus only — the
    # scale pattern (centroid quality needs a fraction; assignment is
    # one narrow pass per side, no union/distinct of wide vectors)
    ivf = ivf_topk(corpus, q, k=3, max_iter=5, fit_fraction=0.25, nprobe=2)
    twin_hits = (
        ivf.filter(F.col("match_id") == F.col("query_id") + F.lit(off))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_th"))
    )
    exact = cosine_topk_bruteforce(corpus, q, k=3)
    return exact.join(twin_hits, "query_id", "left").select(
        "query_id",
        "match_id",
        "cosine_sim",
        "rank",
        F.coalesce(F.col("_th") >= 1, F.lit(False)).cast("long").alias("twin_found"),
    )


# ------------------------------------------------------------- multimodal

@query(
    "m_media_pipeline",
    oracle="""
    WITH m AS (
        SELECT CAST(i AS BIGINT) AS media_id,
               CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               CAST(64 + (i % 5) * 16 AS BIGINT) AS n_bytes,
               CASE WHEN i % 3 = 2 THEN CAST(1000 * (i % 7 + 1) AS BIGINT) END AS dur
        FROM range(64) t(i)
    ), feat AS (
        SELECT media_id,
               round(1.0, 6) AS feature_sum,
               round(len(list_filter(
                         [(media_id * 31 + j * 7) % 256
                          for j in generate_series(0, n_bytes - 1)],
                         v -> v < 32)) / n_bytes, 6) AS feature_0
        FROM m
    ), frames AS (
        SELECT media_id, CAST(unnest(generate_series(0, dur, 500)) AS BIGINT) AS frame_offset_ms
        FROM m WHERE kind = 'video'
    )
    SELECT m.media_id, m.kind, m.n_bytes, f.feature_sum, f.feature_0,
           fr.frame_offset_ms
    FROM m JOIN feat f USING (media_id) LEFT JOIN frames fr USING (media_id)
    """,
)
def m_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary-column feature extraction
    via Arrow-batched mapInPandas (decode stubbed with a deterministic
    fake; Spark plumbing real) joined with video frame-offset sampling
    (sequence+explode generator).

    The synthetic media table is a closed form of media_id, so the
    oracle reproduces byte lengths, the 8-bin histogram head, and the
    sampled frame grid arithmetically — certifying the UDF batch
    plumbing's OUTPUT, not just its shape."""
    media = synthetic_media(spark, n=64)
    feats = extract_features(media).select(
        "media_id",
        "n_bytes",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feature_sum"
        ),
        F.round(F.element_at("feature", 1), 6).alias("feature_0"),
    )
    frames = frame_sample_stub(media, every_ms=500).select(
        "media_id", "frame_offset_ms"
    )
    return (
        media.select("media_id", "kind")
        .join(feats, "media_id")
        .join(frames, "media_id", "left")
        .select("media_id", "kind", "n_bytes", "feature_sum", "feature_0", "frame_offset_ms")
    )


# ------------------------------------------------------- chunking/scrubbing

@query(
    "d10_scrub_chunk",
    oracle="""
    WITH scrubbed AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                     '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                   '\\b\\+?\\d[\\d\\s().-]{7,}\\d\\b', '<PHONE>', 'g'),
                 'https?://[^\\s]+', '<URL>', 'g') AS text
        FROM documents
    ), toks AS (
        SELECT doc_id, str_split(text, ' ') AS t FROM scrubbed
    ), chunks AS (
        SELECT doc_id, t,
               unnest(generate_series(0, CAST(greatest(ceil(len(t) / 32.0), 1) AS BIGINT) - 1)) AS chunk_id
        FROM toks
    ), rows_out AS (
        SELECT doc_id, chunk_id,
               array_to_string(t[(chunk_id * 32 + 1):(chunk_id * 32 + 32)], ' ') AS chunk_text,
               CAST(least(len(t) - chunk_id * 32, 32) AS BIGINT) AS n_tokens,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
                   AS pack_bucket
        FROM chunks
    ), packed AS (
        SELECT *,
               sum(n_tokens) OVER (PARTITION BY pack_bucket
                                   ORDER BY doc_id, chunk_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS _start
        FROM rows_out
    )
    , seqs AS (
        SELECT doc_id, chunk_id, chunk_text, n_tokens, pack_bucket,
               CAST(floor(_start / 64.0) AS BIGINT) AS seq_id,
               CAST(_start - CAST(floor(_start / 64.0) AS BIGINT) * 64 AS BIGINT) AS seq_pos
        FROM packed
    )
    SELECT *,
           CAST(('0x' || substr(md5('7:1:' || CAST(pack_bucket AS VARCHAR)
                                 || ':' || CAST(seq_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS epoch_key
    FROM seqs
    """,
)
def d10_scrub_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing -> fixed-size token chunking -> training-sequence
    PACKING, chained as a real training-data prep pipeline stage.

    Scrub: chained regexp_replace (email/IP/phone/URL -> typed
    placeholders), one narrow projection. Chunk: 32 tokens, no
    overlap, one row per chunk via sequence+explode — a narrow
    generator, the same shape at 100 TB. Pack (r6): GPT-style
    concat-and-cut into 64-token sequences across 8 portable hash
    buckets (``chunking.pack_sequences``) — the whole assignment
    (bucket, seq_id, seq_pos) is integer window arithmetic over an
    engine-portable order, so DuckDB reproduces it exactly; one hash
    shuffle, per-bucket linear scans, n_buckets = the parallelism
    knob.

    r8: also certifies the per-epoch TRAINING-ORDER reshuffle
    (``chunking.epoch_order(portable=True)``): epoch_key = the
    md5-prefix hash of "seed:epoch:bucket:seq" — certifying the key
    VALUES certifies the epoch permutation (the order IS sort-by-key)
    with zero extra shuffle; the oracle recomputes the identical
    formula."""
    from bbdc20_submission_spark.operators.chunking import (
        chunk_by_tokens,
        epoch_order,
        pack_sequences,
        scrub_text,
    )

    d = load_table(spark, "documents", sf_dir)
    scrubbed = scrub_text(d).select(
        "doc_id", F.col("text_scrubbed").alias("text")
    )
    chunks = chunk_by_tokens(scrubbed, chunk_tokens=32, overlap=0)
    packed = pack_sequences(chunks, budget_tokens=64, n_buckets=8)
    return epoch_order(packed, epoch=1, seed=7, portable=True)


@query(
    "r_ranking_suite",
    oracle="""
    WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t FROM documents
    ), stats AS (
        SELECT count(*) AS n, avg(len(t)) AS avgdl FROM toks
    ), ex AS (
        SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM toks
    ), bterms AS (
        SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
        FROM ex WHERE tok IN ('data', 'fast', 'query', 'spark')
        GROUP BY doc_id, tok
    ), bdfd AS (
        SELECT tok, count(*) AS df FROM bterms GROUP BY tok
    ), bm25 AS (
        SELECT t.doc_id,
               round(sum(
                   ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (t.tf * (1.2 + 1))
                   / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl))
               ), 6) AS score
        FROM bterms t
        JOIN bdfd d ON d.tok = t.tok
        CROSS JOIN stats s
        GROUP BY t.doc_id
    ), terms AS (
        SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
        FROM ex GROUP BY doc_id, tok
    ), dfd AS (
        SELECT tok, count(*) AS df FROM terms GROUP BY tok
    ), tfidf AS (
        SELECT t.doc_id, t.tok AS token,
               CAST(t.tf AS BIGINT) AS tf,
               CAST(d.df AS BIGINT) AS df,
               round((t.tf * 1.0 / t.dl) * ln(s.n * 1.0 / d.df), 6) AS score
        FROM terms t
        JOIN dfd d ON d.tok = t.tok
        CROSS JOIN stats s
    ), evq AS (
        SELECT * FROM (VALUES
            (1, ['data', 'fast', 'query', 'spark']),
            (2, ['table', 'row', 'scan']),
            (3, ['merge', 'sort', 'hash', 'batch', 'window'])
        ) AS t(qid, qtoks)
    ), evqtok AS (
        SELECT qid, unnest(qtoks) AS tok FROM evq
    ), mterms AS (
        SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
        FROM ex WHERE tok IN (SELECT DISTINCT tok FROM evqtok)
        GROUP BY doc_id, tok
    ), mdf AS (
        SELECT tok, count(*) AS df FROM mterms GROUP BY tok
    ), runs AS (
        SELECT q.qid, t.doc_id,
               round(sum(
                   ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (t.tf * (1.2 + 1))
                   / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl))
               ), 6) AS score
        FROM mterms t
        JOIN mdf d ON d.tok = t.tok
        JOIN evqtok q ON q.tok = t.tok
        CROSS JOIN stats s
        GROUP BY q.qid, t.doc_id
    ), qrels AS (
        SELECT q.qid, x.doc_id,
               greatest(count(DISTINCT x.tok) - 1, 0) AS rel
        FROM (SELECT DISTINCT doc_id, tok FROM mterms) x
        JOIN evqtok q ON q.tok = x.tok
        GROUP BY q.qid, x.doc_id
    ), ranked AS (
        SELECT r.qid, r.doc_id, r.score, coalesce(qr.rel, 0) AS rel,
               row_number() OVER (
                   PARTITION BY r.qid ORDER BY r.score DESC, r.doc_id ASC
               ) AS rnk
        FROM runs r
        LEFT JOIN qrels qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
    ), got AS (
        SELECT qid,
               sum(CASE WHEN rnk <= 10
                   THEN (pow(2.0, rel) - 1) / (ln(rnk + 1.0) / ln(2.0))
                   ELSE 0 END) AS dcg,
               min(CASE WHEN rel > 0 THEN rnk END) AS first_rel,
               sum(CASE WHEN rnk <= 10 AND rel > 0 THEN 1 ELSE 0 END) AS hits
        FROM ranked GROUP BY qid
    ), ideal AS (
        SELECT qid,
               sum(CASE WHEN irank <= 10
                   THEN (pow(2.0, rel) - 1) / (ln(irank + 1.0) / ln(2.0))
                   ELSE 0 END) AS idcg,
               count(*) AS nrel
        FROM (
            SELECT qid, doc_id, rel,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY rel DESC, doc_id ASC
                   ) AS irank
            FROM qrels WHERE rel > 0
        ) GROUP BY qid
    ), ev AS (
        SELECT g.qid,
               round(g.dcg / i.idcg, 6) AS ndcg,
               round(coalesce(1.0 / g.first_rel, 0), 6) AS mrr,
               round(g.hits / 10.0, 6) AS p,
               round(g.hits * 1.0 / i.nrel, 6) AS r,
               i.nrel
        FROM got g JOIN ideal i ON i.qid = g.qid
    )
    SELECT 'bm25' AS family, doc_id, '' AS token,
           CAST(-1 AS BIGINT) AS tf, CAST(-1 AS BIGINT) AS df, score
    FROM bm25
    UNION ALL
    SELECT 'tfidf' AS family, doc_id, token, tf, df, score FROM tfidf
    UNION ALL
    SELECT 'eval' AS family, CAST(qid AS BIGINT) AS doc_id,
           m.metric AS token, CAST(10 AS BIGINT) AS tf,
           CAST(nrel AS BIGINT) AS df,
           CASE m.metric
               WHEN 'ndcg_at_k' THEN ndcg
               WHEN 'mrr' THEN mrr
               WHEN 'precision_at_k' THEN p
               ELSE r
           END AS score
    FROM ev CROSS JOIN (VALUES ('ndcg_at_k'), ('mrr'),
                               ('precision_at_k'), ('recall_at_k')) m(metric)
    """,
)
def r_ranking_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-scoring SUITE, unioned with a family tag —

    - ``bm25``: Okapi BM25 of the corpus against a fixed 4-token query
      (query-targeted corpus slicing/retrieval for curation). The df
      dim is computed only for the query's terms and broadcast
      (|query| rows); no full-vocabulary state — the 100 TB retrieval
      shape. Zero-overlap docs are omitted (sparse semantics); their
      tf/df slots carry a -1 sentinel.
    - ``tfidf``: the full TF-IDF matrix over the corpus — one token
      explode, two hash aggregates (term counts per doc, document
      frequency per term), one join on the term key; both aggregates
      get map-side partials, and AQE broadcasts the per-term df dim
      when it measures small. The whole formula is reproduced in SQL.
    - ``eval`` (r6): the retrieval-quality EVALUATOR — a 3-query dim
      is batch-scored with ``bm25_score_multi`` (broadcast query dim,
      semi-joined corpus explode), graded qrels are derived as
      (distinct shared query tokens − 1) so binary relevance splits
      the run non-trivially, and ``ranking_eval`` computes
      nDCG@10 / MRR / precision@10 / recall@10 per query — every
      discount, gain, and tie-break reproduced exactly in the oracle
      (ln(rank+1)/ln 2 discounts, 2^rel−1 gains, row_number over
      (rounded score desc, id asc))."""
    from bbdc20_submission_spark.operators.ranking import (
        bm25_corpus_stats,
        bm25_score,
        bm25_score_multi,
        ranking_eval,
        tf_idf,
    )
    from bbdc20_submission_spark.operators.text import ws_tokens

    d = load_table(spark, "documents", sf_dir)
    # one fused (count, avg_dl) aggregate shared by every scorer in
    # the suite — the corpus-stat cache any retrieval deployment keeps
    stats = bm25_corpus_stats(d, "text")
    bm25 = bm25_score(
        d, ["data", "fast", "query", "spark"], corpus_stats=stats,
        ordered=False,  # the union below destroys order; skip the
        # range sort + its bounds-sampling job
    ).select(
        F.lit("bm25").alias("family"),
        "doc_id",
        F.lit("").alias("token"),
        F.lit(-1).cast("long").alias("tf"),
        F.lit(-1).cast("long").alias("df"),
        "score",
    )
    tfidf = tf_idf(d, n_docs=stats[0]).select(
        F.lit("tfidf").alias("family"),
        "doc_id",
        "token",
        "tf",
        "df",
        F.col("tfidf").alias("score"),
    )

    qlists = [
        (1, ["data", "fast", "query", "spark"]),
        (2, ["table", "row", "scan"]),
        (3, ["merge", "sort", "hash", "batch", "window"]),
    ]
    qd = spark.createDataFrame(qlists, "query_id int, tokens array<string>")
    runs = bm25_score_multi(
        d,
        qd,
        corpus_stats=stats,
        # literal query dim -> the union token set is known here;
        # passing it skips the distinct+collect plan-time job (r13).
        # Derived from the SAME literal list qd is built from (r14,
        # advice item), so the union can never silently drift from
        # the dim.
        union_tokens=sorted({t for _, toks in qlists for t in toks}),
    )
    # graded qrels as a ZERO-shuffle narrow map: for a fixed query dim
    # the per-query intersect size is a literal array_intersect per
    # query, stacked — no explode, no join, no aggregation (the shape
    # to prefer over explode+groupBy whenever |queries| is small).
    td = F.array_distinct(ws_tokens("text"))
    qrels = (
        d.select(
            "doc_id",
            *[
                (
                    F.size(
                        F.array_intersect(
                            td, F.array(*[F.lit(t) for t in toks])
                        )
                    )
                    - F.lit(1)
                ).alias(f"_r{qid}")
                for qid, toks in qlists
            ],
        )
        .selectExpr(
            "doc_id",
            "stack(3, 1, _r1, 2, _r2, 3, _r3) AS (query_id, rel)",
        )
        .select(
            "query_id",
            "doc_id",
            F.greatest("rel", F.lit(0)).alias("rel"),
        )
    )
    ev = ranking_eval(runs, qrels, k=10)
    eval_rows = ev.selectExpr(
        "query_id",
        "n_rel",
        "stack(4, 'ndcg_at_k', ndcg_at_k, 'mrr', mrr,"
        " 'precision_at_k', precision_at_k, 'recall_at_k', recall_at_k)"
        " AS (metric, value)",
    ).select(
        F.lit("eval").alias("family"),
        F.col("query_id").cast("long").alias("doc_id"),
        F.col("metric").alias("token"),
        F.lit(10).cast("long").alias("tf"),
        F.col("n_rel").alias("df"),
        F.col("value").alias("score"),
    )
    return bm25.unionByName(tfidf).unionByName(eval_rows)


# The end-to-end curation DAG, certified as ONE oracle query: every
# stage's SQL is the same formula its per-operator oracle uses (d1
# exact dedup, d12 recursive-CTE clusters, d2 quality, d4 language,
# d10 scrub+chunk), composed in the curate() order.
_C1_ORACLE = f"""
    WITH RECURSIVE
    src AS (SELECT * FROM documents
            WHERE source IS NULL OR source NOT IN ('src19')),
    keep AS (SELECT min(doc_id) AS kid FROM src GROUP BY md5(text)),
    eu AS (SELECT d.* FROM src d JOIN keep k ON k.kid = d.doc_id),
    toks AS MATERIALIZED (SELECT doc_id, str_split(text, ' ') AS t FROM eu),
    sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in generate_series(1, greatest(len(t)-2, 1))]) AS s
        FROM toks
    ),
    ex AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_filter(a.s, x -> list_contains(b.s, x)))
                     / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM ex WHERE jaccard >= 0.5
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM ex WHERE jaccard >= 0.5
    ),
    reach(id, rid) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.rid FROM edges e JOIN reach r ON r.id = e.b
    ),
    comp AS (SELECT id, min(rid) AS component FROM reach GROUP BY id),
    members AS (
        SELECT e.doc_id, coalesce(c.component, e.doc_id) AS component,
               length(e.text) AS klen
        FROM eu e LEFT JOIN comp c ON c.id = e.doc_id
    ),
    keepers AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY klen DESC, doc_id ASC) AS rn
            FROM members
        ) WHERE rn = 1
    ),
    nu AS (
        SELECT e.* FROM eu e JOIN keepers k ON k.doc_id = e.doc_id
    ),
    feats AS (
        SELECT doc_id, text,
               length(text) AS n_chars,
               len(str_split(text, ' ')) AS n_tokens,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
               length(text)
                 - length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                 - length(regexp_replace(text, '[^0-9]', '', 'g'))
                 - length(regexp_replace(text, '[^ ]', '', 'g')) AS punct,
               len(list_filter(str_split(text, ' '),
                   x -> x IN ('the','a','of','and','is','to','in','that'))) AS sw,
               len(list_filter(str_split(text,' '), x -> x IN {tuple(STOPWORDS['de'])})) AS h_de,
               len(list_filter(str_split(text,' '), x -> x IN {tuple(STOPWORDS['en'])})) AS h_en,
               len(list_filter(str_split(text,' '), x -> x IN {tuple(STOPWORDS['es'])})) AS h_es,
               len(list_filter(str_split(text,' '), x -> x IN {tuple(STOPWORDS['fr'])})) AS h_fr,
               len(list_filter(str_split(text,' '), x -> x IN {tuple(STOPWORDS['zh'])})) AS h_zh
        FROM nu
    ),
    scored AS (
        SELECT doc_id, text,
               round(least(n_tokens / 32.0, 1.0) * 0.4
                     + least(sw / n_tokens * 4.0, 1.0) * 0.3
                     + (1.0 - least(punct / n_chars * 4.0, 1.0)) * 0.2
                     + (1.0 - least(digits / n_chars * 4.0, 1.0)) * 0.1, 6) AS quality,
               CASE WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
                    WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
                    WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
                    WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
                    ELSE 'zh' END AS lang_pred
        FROM feats
    ),
    filt AS (
        SELECT * FROM scored
        WHERE quality >= 0.5 AND lang_pred IN ('en', 'de', 'es', 'fr')
    ),
    scrubbed AS (
        SELECT doc_id, lang_pred, quality,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}', '<EMAIL>', 'g'),
                     '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g'),
                   '\\b\\+?\\d[\\d\\s().-]{{7,}}\\d\\b', '<PHONE>', 'g'),
                 'https?://[^\\s]+', '<URL>', 'g') AS text
        FROM filt
    ),
    bt AS (
        SELECT doc_id, lang_pred, quality, str_split(text, ' ') AS t FROM scrubbed
    ),
    bchunks AS (
        SELECT doc_id, lang_pred, quality, chunk_id,
               array_to_string(t[(chunk_id * 32 + 1):(chunk_id * 32 + 32)], ' ') AS ct
        FROM (SELECT doc_id, lang_pred, quality, t,
                     unnest(generate_series(0,
                         CAST(greatest(ceil(len(t) / 32.0), 1) AS BIGINT) - 1)) AS chunk_id
              FROM bt)
    ),
    bflag AS (
        SELECT md5(ct) AS h FROM bchunks
        GROUP BY md5(ct) HAVING count(DISTINCT doc_id) >= 2
    ),
    stripped AS (
        SELECT doc_id, lang_pred, quality,
               coalesce(string_agg(ct, ' ' ORDER BY chunk_id)
                            FILTER (WHERE md5(ct) NOT IN (SELECT h FROM bflag)),
                        '') AS text
        FROM bchunks GROUP BY doc_id, lang_pred, quality
    ),
    ct AS (
        SELECT doc_id, lang_pred, quality, str_split(text, ' ') AS t
        FROM stripped WHERE length(text) > 0
    ),
    chunks AS (
        SELECT doc_id, lang_pred, quality, t,
               unnest(generate_series(0,
                   CAST(greatest(ceil(len(t) / 32.0), 1) AS BIGINT) - 1)) AS chunk_id
        FROM ct
    )
    SELECT doc_id, chunk_id,
           array_to_string(t[(chunk_id * 32 + 1):(chunk_id * 32 + 32)], ' ') AS chunk_text,
           CAST(least(len(t) - chunk_id * 32, 32) AS BIGINT) AS n_tokens,
           lang_pred, quality
    FROM chunks
"""


@query("c1_curation_dag", oracle=_C1_ORACLE)
def c1_curation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline — exact dedup -> near-dup cluster
    representatives -> quality + language filter -> PII scrub ->
    cross-document boilerplate strip -> token chunking — certified end
    to end as one composed plan. Each stage's oracle SQL is the
    identical formula its per-operator query uses (the strip CTEs are
    d5's md5-chunk formula at the DAG's 32-token width); composition
    correctness (stage order, survivor joins, metadata re-attachment,
    re-chunking of stripped text) is what this query adds over
    d1/d12/d2/d4/d10/d5. The corpus carries naturally repeated
    32-token chunks (27 across >=2 docs at sf0.01), so the strip stage
    is non-vacuous on the certified path. Sampling is off here because
    its certified form (d15) uses the portable hash while the DAG's
    default uses xxhash64.

    r6: the C4-style source blocklist (stage 0) is on — 'src19' is
    blocked (5% of every SF), so the filter perturbs every downstream
    stage and the oracle proves composition with it enabled; the
    predicate is a scan-pushed NOT IN, certified separately by the
    pushdown plan test.

    r6b: the quality-keeper policy is on — near-dup clusters keep
    their LONGEST member (``keeper_score_col='doc_len'``, tie -> min
    id) instead of the min-id default, via the broadcast-only
    ``reselect_keepers`` pass (plan-pinned: the corpus never enters a
    SortMergeJoin for keeper re-selection). The oracle reproduces the
    argmax in the ``keepers`` window CTE, so the production keeper
    policy is certified cross-engine inside the composed DAG."""
    from bbdc20_submission_spark.plans.curation import CurationConfig, curate

    d = load_table(spark, "documents", sf_dir).withColumn(
        "doc_len", F.length("text")
    )
    out, _ = curate(
        d,
        CurationConfig(
            strip_boilerplate_min_docs=2,
            blocked_sources=("src19",),
            keeper_score_col="doc_len",
        ),
    )
    return out.select(
        "doc_id", "chunk_id", "chunk_text", "n_tokens", "lang_pred", "quality"
    )


@query(
    "c2_corpus_diff",
    oracle="""
    WITH params AS (SELECT max(doc_id) + 1 AS off FROM documents),
    old AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 5
    ),
    new AS (
        SELECT CASE WHEN doc_id % 13 = 9
                    THEN doc_id + (SELECT off FROM params)
                    ELSE doc_id END AS doc_id,
               CASE WHEN doc_id % 13 = 3
                    THEN text || ' zz-v2-marker'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 13 <> 7
    ),
    st AS MATERIALIZED (
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN md5(o.text) = md5(n.text) THEN 'unchanged'
                    ELSE 'modified' END AS status
        FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id
    ),
    ash AS (
        SELECT n.doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in generate_series(1, greatest(len(t)-2, 1))]) AS s
        FROM (SELECT doc_id, str_split(text, ' ') AS t FROM new) n
        JOIN st ON st.doc_id = n.doc_id AND st.status = 'added'
    ),
    rsh AS (
        SELECT o.doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in generate_series(1, greatest(len(t)-2, 1))]) AS s
        FROM (SELECT doc_id, str_split(text, ' ') AS t FROM old) o
        JOIN st ON st.doc_id = o.doc_id AND st.status = 'removed'
    ),
    pr AS (
        SELECT a.doc_id AS aid, r.doc_id AS rid,
               round(len(list_filter(a.s, x -> list_contains(r.s, x)))
                     / len(list_distinct(list_concat(a.s, r.s))), 6) AS j
        FROM ash a CROSS JOIN rsh r
    ),
    best AS (
        SELECT aid, rid, j FROM (
            SELECT aid, rid, j,
                   row_number() OVER (PARTITION BY aid
                                      ORDER BY j DESC, rid ASC) AS rn
            FROM pr WHERE j >= 0.5
        ) WHERE rn = 1
    )
    SELECT st.doc_id, st.status,
           b.rid AS matched_old_id,
           b.j AS match_jaccard
    FROM st LEFT JOIN best b ON b.aid = st.doc_id
    """,
)
def c2_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff + near-dup RENAME matching
    (``incremental.corpus_diff``) — the dataset-release audit: which
    docs were added / removed / modified / unchanged between two
    corpus versions, with added docs near-matching removed docs
    reported as renames (best match = max Jaccard, tie -> lowest old
    id). Both snapshots are derived in-query from ``documents`` with
    the same arithmetic in both engines: ids with doc_id % 13 == 5
    are absent from OLD (added), % 13 == 7 absent from NEW (removed),
    % 13 == 3 get a marker token appended in NEW (modified), and
    % 13 == 9 are re-ingested in NEW under id + max(doc_id)+1 (the
    collision-proof offset) with identical text — a rename the LSH
    pass must recover at jaccard 1.0.

    Certification: the exact-diff half is a pure (id, md5) full outer
    join; the rename half runs the d8 MinHash-LSH machinery (same
    shingle_k=3 / 16 hashes / 4 bands) over the added x removed sets,
    and the oracle recomputes the SAME >= 0.5 Jaccard best-match by
    brute force — green inherits d8's proven recall-1 on this corpus
    (signatures depend only on text, so every full-corpus pair d8
    recalls is also recalled on the diff subset). Scale shape: the
    status join exchanges only (id, md5) pairs — text never shuffles
    for the diff — and the rename pass pays only for the churn, never
    the snapshot."""
    from bbdc20_submission_spark.operators.incremental import corpus_diff

    d = load_table(spark, "documents", sf_dir)
    off = _plant_offset(spark, sf_dir, table="documents", id_col="doc_id")
    r = F.col("doc_id") % 13
    old = d.filter(r != 5).select("doc_id", "text")
    new = d.filter(r != 7).select(
        F.when(r == 9, F.col("doc_id") + off)
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        F.when(r == 3, F.concat(F.col("text"), F.lit(" zz-v2-marker")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus_diff(
        old,
        new,
        match_renames=True,
        shingle_k=3,
        num_hashes=16,
        bands=4,
        min_jaccard=0.5,
    )
