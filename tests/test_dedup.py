"""Property tests for the non-SQL-expressible dedup operators:
planted near-duplicates must be found; unrelated docs must not be."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from bbdc20_submission_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash_near_dups,
)

VOCAB = [f"word{i}" for i in range(500)]


def _mk_docs(spark, n=60, words=60, mutate=3, seed=11):
    """n base docs + one near-dup per base (mutate words changed)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        toks = [rng.choice(VOCAB) for _ in range(words)]
        rows.append((i, " ".join(toks)))
        near = list(toks)
        for _ in range(mutate):
            near[rng.randrange(words)] = rng.choice(VOCAB)
        rows.append((i + 10_000, " ".join(near)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup_groups(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_finds_planted_near_dups(spark):
    docs = _mk_docs(spark)
    cands = minhash_lsh_candidates(docs, shingle_k=3, num_hashes=16, bands=8)
    verified = jaccard_pairs(docs, cands, shingle_k=3).filter(
        F.col("jaccard") >= 0.5
    )
    pairs = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    planted = {(i, i + 10_000) for i in range(60)}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.9, f"minhash recall {recall}"
    # verified pairs are near-dups only: no cross-base false positives
    assert all(b - a == 10_000 for a, b in pairs)


def test_simhash_finds_planted_near_dups(spark):
    docs = _mk_docs(spark, n=30, words=80, mutate=2)
    out = simhash_near_dups(docs, max_hamming=12)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = {(i, i + 10_000) for i in range(30)}
    recall = len(pairs & planted) / len(planted)
    # the multi-index pigeonhole guarantees recall 1 over pairs
    # actually within the hamming budget; planted mutations land there
    assert recall >= 0.9, f"simhash recall {recall}"


def test_hot_bucket_cap_bounds_pair_count(spark):
    """A degenerate corpus (every doc identical) must not go quadratic:
    with bucket_cap=c and b bands the candidate count is O(n*c*b),
    not O(n^2). (r12: the sub assignment is salted per band, so each
    band samples an INDEPENDENT ~1/m of the family's pairs — the
    distinct union across bands is ~b/m of all pairs, where the
    unsalted form's bands all re-sampled the SAME 1/m. Per-band join
    cost is unchanged; the bound scales with bands.)"""
    n, cap = 2000, 64
    rows = [(i, "the same boilerplate text repeated verbatim " * 8) for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands = 4
    cands = minhash_lsh_candidates(
        docs, num_hashes=16, bands=bands, bucket_cap=cap
    )
    pairs = [(r["id_a"], r["id_b"]) for r in cands.collect()]
    n_pairs = len(pairs)
    quadratic = n * (n - 1) / 2
    assert 0 < n_pairs <= n * cap * bands, (
        f"{n_pairs} pairs for n={n}, cap={cap}, bands={bands}"
    )
    assert n_pairs < 0.2 * quadratic, (n_pairs, quadratic)
    # every doc still lands in some pair (clustering stays connected
    # enough to mark all copies as duplicates of something)
    ids = {i for p in pairs for i in p}
    assert len(ids) == n
    # r10: the family must be ONE component, not ceil(n/cap) cliques —
    # sub-splitting hashes ids identically in every band, so without
    # the cross-sub chain edges a capped dup family would keep ~n/cap
    # representatives downstream instead of one
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(n)}) == 1


def test_minhash_no_false_positives_on_disjoint_docs(spark):
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(40))) for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = minhash_lsh_candidates(docs, num_hashes=16, bands=4)
    verified = jaccard_pairs(docs, cands).filter(F.col("jaccard") >= 0.5)
    assert verified.count() == 0


def test_simhash64_hof_matches_dataframe_form(spark):
    """The per-row higher-order-function simhash (simhash64) and the
    exploded aggregate form (simhash_df) must produce identical
    fingerprints — they are the same function at different scales."""
    from bbdc20_submission_spark.operators.dedup import simhash64, simhash_df
    from bbdc20_submission_spark.operators.text import ws_tokens

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different content entirely"),
            (3, "x"),
        ],
        "doc_id long, text string",
    )
    hof = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", simhash64(ws_tokens("text")).alias("fp")).collect()
    }
    agg = {r["_id"]: r["_fp"] for r in simhash_df(docs).collect()}
    assert hof == agg


def test_rolling_fingerprint_is_deterministic_and_order_sensitive(spark):
    """The xxhash64 fast-path fingerprint: stable across runs, changes
    when token order changes (it is a positional rolling hash, not a
    bag hash), and agrees with the portable form's STRUCTURE (same
    polynomial, different token hash)."""
    from bbdc20_submission_spark.operators.text import rolling_fingerprint, ws_tokens

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "c b a"), (2, "a b c")], "doc_id long, text string"
    )
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", rolling_fingerprint(ws_tokens("text")).alias("fp")
        ).collect()
    }
    assert fp[0] == fp[2]          # deterministic
    assert fp[0] != fp[1]          # order-sensitive
    assert all(0 <= v < 1_000_000_007 for v in fp.values())


def test_contamination_flags_planted(spark):
    from bbdc20_submission_spark.operators.dedup import contamination_flags

    eval_set = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the eval 5-gram "alpha beta gamma delta epsilon"
            (1, "xx alpha beta gamma delta epsilon yy"),
            # shares words but no 5-gram run
            (2, "alpha beta gamma QQ delta epsilon zeta eta"),
            (3, "totally unrelated words only here nothing shared"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shared"], r["contaminated"])
        for r in contamination_flags(corpus, eval_set, k=5).collect()
    }
    assert got[1][1] == 1 and got[1][0] >= 1
    assert got[2] == (0, 0)
    assert got[3] == (0, 0)
    assert set(got) == {1, 2, 3}  # one row per corpus doc, eval excluded


def test_repetition_stats_flags_spam(spark):
    from bbdc20_submission_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam spam ham"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "ab cd ab cd ab cd ab cd ab cd"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert got[1]["top_word_count"] == 9 and got[1]["repetition_ok"] == 0
    assert got[2]["top_word_count"] == 1 and got[2]["repetition_ok"] == 1
    # doc 3: 9 bigrams, only 2 distinct -> dup_2gram_frac ~ 0.777778
    # output is rounded to 6 decimals
    assert abs(got[3]["dup_2gram_frac"] - (1 - 2 / 9)) < 1e-6
    assert got[3]["repetition_ok"] == 0


def test_repetition_counts_corner_cases_match_python_reference(spark):
    """The Arrow-batched counts must equal a pure-python reference of
    the exact contract on adversarial texts: empty string (split(' ')
    -> ['']), runs of spaces (empty tokens are tokens), single token
    (one degenerate gram window), all-identical tokens, unicode, and
    NULL text (NULL counts, not a crash)."""
    from collections import Counter

    from bbdc20_submission_spark.operators.text import _repetition_counts

    texts = [
        "",
        " ",
        "a  b   c",
        "solo",
        "x x x x x x",
        "héllo wörld héllo wörld héllo",
        "a b a b a b a b",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["_r"]["n"], r["_r"]["topc"], r["_r"]["d2"])
        for r in df.select("doc_id", _repetition_counts(F.col("text")).alias("_r")).collect()
    }
    for i, t in enumerate(texts):
        if t is None:
            assert got[i] == (None, None, None)
            continue
        toks = t.split(" ")
        n = len(toks)
        want = (
            n,
            max(Counter(toks).values()),
            1 if n == 1 else len(set(zip(toks, toks[1:]))),
        )
        assert got[i] == want, (i, t, got[i], want)


def test_hamming_near_pairs_pigeonhole_recall(spark):
    """Constructed-fingerprint proof of the multi-index guarantee:
    every pair at hamming h <= max_hamming MUST be emitted with its
    exact distance (pigeonhole over the block/probe scheme), including
    pairs at exactly the budget; nothing beyond the budget survives
    the exact-hamming filter."""
    import random

    from bbdc20_submission_spark.operators.dedup import hamming_near_pairs

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    rng = random.Random(5)
    rows, expected = [], {}
    nid = 0
    for h in (0, 1, 7, 12, 13):
        for _ in range(6):
            base = rng.getrandbits(64)
            flipped = base
            for pos in rng.sample(range(64), h):
                flipped ^= 1 << pos
            a, b = nid, nid + 1
            nid += 2
            rows += [(a, signed(base)), (b, signed(flipped))]
            expected[(a, b)] = h
    df = spark.createDataFrame(rows, "_id long, _fp long")
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_near_pairs(df, max_hamming=13).collect()
    }
    for pair, h in expected.items():
        assert out.get(pair) == h, (pair, h, out.get(pair))
    assert all(v <= 13 for v in out.values())


def test_chain_edges_adversarial_collision_majority(spark):
    """r13 (VERDICT #5): the residual chain-edge caveat, pushed to its
    adversarial shape — family members are <5% of a hot bucket whose
    id EXTREMES are almost all collision docs (so most chain links
    anchor on collision reps and fail the verify). Connectivity must
    then come from the other two repairs: full probe explosion when
    m <= rounds, and ~rounds/m round-salted sampling per band when
    m is large (P(edge) ~ 1-(1-rounds/m)^k per cross-sub pair — a
    family of F members stays one component w.h.p. once
    P(edge) > 2 ln(F)/F, the random-graph connectivity threshold;
    here F=60, m~8, k up to 4 bands -> P(edge) ~ 0.9). Deterministic
    (fixed hashes), so this pins the outcome, not a probability."""
    family_text = " ".join(f"tok{j}" for j in range(40))
    rows = []
    # 60 family ids interleaved INSIDE the collision id range so sub
    # min/max are collision docs with overwhelming odds
    fam_ids = [1000 + 25 * i for i in range(60)]
    for i in fam_ids:
        rows.append((i, family_text))
    col_ids = [i for i in range(1000, 2500) if i not in set(fam_ids)]
    for i in col_ids:
        suffix = " ".join(f"uniq{i}_{j}" for j in range(20))
        rows.append((i, family_text + " " + suffix))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, bucket_cap=200
    )
    cand_pairs = [(r["id_a"], r["id_b"]) for r in cands.collect()]
    fam = set(fam_ids)
    # the adversarial mix must actually occur
    assert any((a in fam) != (b in fam) for a, b in cand_pairs)
    verified = jaccard_pairs(
        docs, cands, shingle_k=3, min_jaccard=0.95
    ).filter(F.col("jaccard") >= 0.95)
    pairs = [(r["id_a"], r["id_b"]) for r in verified.collect()]
    assert all(a in fam and b in fam for a, b in pairs)
    idx = {d: k for k, d in enumerate(sorted(fam))}
    parent = list(range(len(fam)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(idx[a])] = find(idx[b])
    n_components = len({find(i) for i in range(len(fam))})
    assert n_components == 1, f"family split into {n_components} components"


def test_hamming_near_pairs_recall_exact_in_hot_buckets(spark):
    """The multi-index must stay recall-1 when buckets exceed the cap
    (the r10 64x probe found 31% of true pairs silently dropped before
    the probe-side sub-bucket explosion): with a tiny cap forcing every
    block bucket hot, the emitted pair set must still equal the numpy
    brute force EXACTLY. Hash-assigning subs on both sides — the old
    behavior — only finds pairs whose id hashes collide mod the split
    count, which this corpus is large enough to violate for many
    pairs."""
    import random

    from bbdc20_submission_spark.operators.dedup import hamming_near_pairs

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    rng = random.Random(11)
    budget = 4  # s=3 blocks of ~21 bits
    n = 120
    fps = []
    # 40 base docs, each with two near copies within the budget; ALL
    # docs share identical block-0 bits (the low 22 bits), so every
    # block-0 bucket holds all 120 rows >> cap=8 and must sub-split
    for i in range(40):
        base = (rng.getrandbits(42) << 22) | 0x2ABCDE
        fps.append(base)
        for _ in range(2):
            flipped = base
            for pos in rng.sample(range(22, 64), rng.randint(1, budget)):
                flipped ^= 1 << pos
            fps.append(flipped)
    assert len(fps) == n
    truth = {
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if bin(fps[a] ^ fps[b]).count("1") <= budget
    }
    df = spark.createDataFrame(
        [(i, signed(f)) for i, f in enumerate(fps)], "_id long, _fp long"
    )
    out = {
        (r["id_a"], r["id_b"])
        for r in hamming_near_pairs(
            df, max_hamming=budget, bucket_cap=8
        ).collect()
    }
    assert out == truth, (
        f"missing {len(truth - out)} of {len(truth)} true pairs, "
        f"{len(out - truth)} spurious"
    )


def test_classifier_quality_score_matches_reference_math(spark):
    """The hashed-BoW linear scorer must equal an independent python
    re-derivation (hashlib md5 featurization + float fold in token
    order), and its plan must stay a pure narrow map (no Exchange)."""
    import hashlib
    import math

    from bbdc20_submission_spark.operators.text import (
        classifier_quality_score,
        classifier_weights,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "a a a a a",
        "data systems at scale need partition pruning",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["clf_score"]
        for r in classifier_quality_score(df).collect()
    }
    W = classifier_weights()
    for i, t in enumerate(texts):
        toks = t.split(" ")
        acc = 0.0
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 256
            acc = acc + W[h]
        want = 1.0 / (1.0 + math.exp(-(acc / len(toks))))
        assert out[i] == want, (i, out[i], want)
    plan = (
        classifier_quality_score(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_classifier_weights_validation(spark):
    import pytest

    from bbdc20_submission_spark.operators.text import classifier_quality_score

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_features"):
        classifier_quality_score(df, weights=[0.1, 0.2], n_features=4)


def test_bigram_lm_scores_match_hand_computation(spark):
    """The corpus bigram LM must equal an independent python
    re-derivation (add-0.5 smoothing, fit on the same tiny corpus),
    and single-token docs must come back with n_bigrams=0, logp=0."""
    import math
    from collections import Counter

    from bbdc20_submission_spark.operators.text import bigram_lm_scores

    texts = ["a b a b", "a b c", "c c", "x"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["lm_logp"])
        for r in bigram_lm_scores(df).collect()
    }

    uni = Counter(w for t in texts for w in t.split(" "))
    bi = Counter(
        (ts[i], ts[i + 1])
        for t in texts
        for ts in [t.split(" ")]
        for i in range(len(ts) - 1)
    )
    V = float(len(uni))
    for i, t in enumerate(texts):
        ts = t.split(" ")
        pairs = [(ts[j], ts[j + 1]) for j in range(len(ts) - 1)]
        assert out[i][0] == len(pairs), (i, out[i])
        if not pairs:
            assert out[i][1] == 0.0
            continue
        logps = [
            math.log((bi[p] + 0.5) / (uni[p[0]] + 0.5 * V)) for p in pairs
        ]
        want = round(sum(logps) / len(logps), 6)
        assert abs(out[i][1] - want) < 1e-12, (i, out[i][1], want)


def test_duplicate_span_stats_semantics(spark):
    """Sliding-window substring dedup: shared runs are removed from
    BOTH docs, within-doc repeats count (suffix-array semantics),
    overlapping windows merge to one span, short docs pass through."""
    from bbdc20_submission_spark.operators.dedup import duplicate_span_stats

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x x c d e f g h i y"),  # shares the 7-token run c..i
        (3, "p q r s t u v w"),
        (4, "m m m m m m m m m"),  # internal repeats cover everything
        (5, "z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_dup_spans"], r["span_tokens_removed"], r["clean_text"])
        for r in duplicate_span_stats(df, span_tokens=4).collect()
    }
    assert out[1] == (1, 7, "a b j")
    assert out[2] == (1, 7, "x x y")
    assert out[3] == (0, 0, "p q r s t u v w")
    assert out[4] == (1, 9, "")
    assert out[5] == (0, 0, "z")

    import pytest

    with pytest.raises(ValueError, match="span_tokens"):
        duplicate_span_stats(df, span_tokens=1)


def test_fit_quality_classifier_matches_numpy(spark):
    """The distributed normal-equations ridge fit must match a local
    numpy fit on the same hashed-BoW features, and scoring with the
    trained weights must separate the planted good/bad docs."""
    import hashlib

    import numpy as np

    from bbdc20_submission_spark.operators.text import (
        classifier_quality_score,
        fit_quality_classifier,
    )

    good = [f"the quick brown fox number {i} jumps over the lazy dog" for i in range(30)]
    bad = [f"buy now {i} !!! $$$ click here !!! {i} $$$" for i in range(30)]
    rows = [(i, t, 1) for i, t in enumerate(good)] + [
        (100 + i, t, 0) for i, t in enumerate(bad)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    K = 64
    w = fit_quality_classifier(df, "label", n_features=K, reg=1e-3)
    assert len(w) == K

    # local re-derivation
    X = np.zeros((len(rows), K))
    y = np.zeros(len(rows))
    for r, (_, text, label) in enumerate(rows):
        toks = text.split(" ")
        for t in toks:
            j = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % K
            X[r, j] += 1.0 / len(toks)
        y[r] = label
    want = np.linalg.solve(X.T @ X + 1e-3 * np.eye(K), X.T @ y)
    assert np.allclose(np.array(w), want, atol=1e-8)

    scored = {
        r["doc_id"]: r["clf_score"]
        for r in classifier_quality_score(
            df, weights=w, n_features=K
        ).collect()
    }
    good_scores = [scored[i] for i in range(30)]
    bad_scores = [scored[100 + i] for i in range(30)]
    assert min(good_scores) > max(bad_scores)


def test_duplicate_span_stats_random_cross_check(spark):
    """Randomized semantics check: 40 seeded random mini-corpora (small
    alphabet -> dense window collisions) run through the operator in
    one batch; every doc's output must equal a brute-force python
    re-derivation (window hashing, interval union, removal)."""
    import random

    from bbdc20_submission_spark.operators.dedup import duplicate_span_stats

    L = 3
    rng = random.Random(11)
    rows = []
    for corpus in range(40):
        for d in range(4):
            n = rng.randint(1, 14)
            text = " ".join(
                rng.choice("abcde") for _ in range(n)
            )
            rows.append((corpus * 10 + d, corpus, text))
    df = spark.createDataFrame(rows, "doc_id long, corpus long, text string")

    # the operator treats the WHOLE input as one corpus; to exercise
    # many corpora in one pass, prefix every token with its corpus id
    # so windows never collide across corpora
    from pyspark.sql import functions as F

    salted = df.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.split("text", " "),
                lambda x: F.concat(F.col("corpus").cast("string"), F.lit("_"), x),
            ),
        ).alias("text"),
    )
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["span_tokens_removed"], r["clean_text"])
        for r in duplicate_span_stats(salted, span_tokens=L).collect()
    }

    # brute-force reference per corpus
    by_corpus: dict[int, list[tuple[int, list[str]]]] = {}
    for doc_id, corpus, text in rows:
        toks = [f"{corpus}_{t}" for t in text.split(" ")]
        by_corpus.setdefault(corpus, []).append((doc_id, toks))
    for corpus, docs in by_corpus.items():
        from collections import Counter

        counts = Counter()
        for _, toks in docs:
            for i in range(len(toks) - L + 1):
                counts[tuple(toks[i : i + L])] += 1
        for doc_id, toks in docs:
            covered = set()
            for i in range(len(toks) - L + 1):
                if counts[tuple(toks[i : i + L])] >= 2:
                    covered.update(range(i, i + L))
            # spans = maximal runs of covered positions
            spans = 0
            prev = -10
            removed = 0
            for p in sorted(covered):
                if p > prev + 1:
                    spans += 1
                prev = p
                removed += 1
            clean = " ".join(
                t for i, t in enumerate(toks) if i not in covered
            )
            assert got[doc_id] == (spans, removed, clean), doc_id


def test_bigram_lm_random_cross_check(spark):
    """Randomized check of the corpus bigram LM: 60 seeded random docs
    over a tiny alphabet; per-doc (n_bigrams, lm_logp) must equal the
    python re-derivation at the operator's 6dp rounding."""
    import math
    import random
    from collections import Counter

    from bbdc20_submission_spark.operators.text import bigram_lm_scores

    rng = random.Random(23)
    texts = [
        " ".join(rng.choice("abcd") for _ in range(rng.randint(1, 20)))
        for _ in range(60)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["lm_logp"])
        for r in bigram_lm_scores(df).collect()
    }
    uni = Counter(w for t in texts for w in t.split(" "))
    bi = Counter(
        (ts[i], ts[i + 1])
        for t in texts
        for ts in [t.split(" ")]
        for i in range(len(ts) - 1)
    )
    V = float(len(uni))
    for i, t in enumerate(texts):
        ts = t.split(" ")
        pairs = [(ts[j], ts[j + 1]) for j in range(len(ts) - 1)]
        if not pairs:
            assert got[i] == (0, 0.0), i
            continue
        lp = sum(
            math.log((bi[p] + 0.5) / (uni[p[0]] + 0.5 * V)) for p in pairs
        ) / len(pairs)
        assert got[i][0] == len(pairs), i
        assert abs(got[i][1] - round(lp, 6)) < 2e-6, (i, got[i][1], lp)


def test_corpus_report_single_pass(spark, sf_dir):
    """The corpus report must agree with independently-computed exact
    stats (counts, token totals, language mix) and run as a single
    aggregation over one scan (exactly one Exchange in the plan)."""
    from bbdc20_submission_spark.operators.text import corpus_report, language_id
    from bbdc20_submission_spark.sources.harness import load_table

    docs = load_table(spark, "documents", sf_dir).limit(200)
    row = corpus_report(docs).collect()[0]
    assert row["n_docs"] == 200
    want_tokens = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0]["t"]
    assert row["total_ws_tokens"] == want_tokens
    lang_counts = {
        r["lang_pred"]: r["count"]
        for r in language_id(docs).groupBy("lang_pred").count().collect()
    }
    for lang, n in lang_counts.items():
        assert row[f"n_docs_{lang}"] == n
    assert 0.0 <= row["dup_rate_approx"] <= 1.0
    assert row["p50_doc_tokens"] <= row["p95_doc_tokens"]

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        corpus_report(docs).explain("formatted")
    plan = buf.getvalue().split("\n\n")[0]
    assert plan.count("Exchange") == 1, plan


def test_hamming_kernel_matches_bruteforce_with_hot_buckets(spark):
    """The numpy popcount kernel must emit EXACTLY the brute-force
    hamming <= budget pair set (exact ids and distances) on random
    fingerprints plus planted close pairs."""
    import random

    from pyspark.sql import functions as F

    from bbdc20_submission_spark.operators.dedup import hamming_near_pairs

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    rng = random.Random(17)
    raw = [rng.getrandbits(64) for _ in range(300)]
    # plant close pairs (unsigned arithmetic, sign-cast at the end)
    for i in range(0, 40, 2):
        flipped = raw[i]
        for pos in rng.sample(range(64), rng.randint(0, 17)):
            flipped ^= 1 << pos
        raw[i + 1] = flipped
    rows = [(i, signed(v)) for i, v in enumerate(raw)]
    df = spark.createDataFrame(rows, "_id long, _fp long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_near_pairs(df, max_hamming=17).collect()
    }
    a = df.selectExpr("_id AS ia", "_fp AS fa")
    b = df.selectExpr("_id AS ib", "_fp AS fb")
    brute = {
        (r["ia"], r["ib"]): r["h"]
        for r in a.crossJoin(b)
        .filter("ia < ib")
        .select("ia", "ib", F.bit_count(F.expr("fa ^ fb")).alias("h"))
        .filter("h <= 17")
        .collect()
    }
    assert got == brute, (len(got), len(brute))


def test_simhash_shingle_mode_finds_planted_near_dups(spark):
    """shingle_k mode: fingerprints voted over k-shingle hashes find
    the planted mutated near-dups (same recall bar as the unigram
    test) and the sets/fingerprint composition matches the standalone
    operator output."""
    from bbdc20_submission_spark.operators.dedup import (
        hamming_near_pairs,
        hashed_shingle_sets,
        simhash_near_dups,
        simhash_sets_df,
    )

    docs = _mk_docs(spark, n=30, words=80, mutate=2)
    out = simhash_near_dups(docs, max_hamming=17, shingle_k=3)
    found = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = {(i, i + 10_000) for i in range(30)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"shingle simhash recall {recall}"
    # composition path (query template) produces the same pair set
    sets = hashed_shingle_sets(docs, shingle_k=3)
    via_sets = {
        (r["id_a"], r["id_b"])
        for r in hamming_near_pairs(
            simhash_sets_df(sets), max_hamming=17
        ).collect()
    }
    assert via_sets == found


def test_decontaminate_spans_removes_eval_overlap(spark):
    """decontaminate_spans: corpus spans matching eval k-grams are
    excised (merged intervals, exact token-sequence matching); clean
    docs pass through byte-identical; counts match a serial replay."""
    from bbdc20_submission_spark.operators.dedup import (
        contamination_flags,
        decontaminate_spans,
    )

    leak = "the quick brown fox jumps over the lazy dog"
    evalset = spark.createDataFrame(
        [(f"Q: {leak} A: yes",)], "text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {leak} trailing words here"),  # mid-doc leak
            (2, "completely unrelated training document text body"),
            (3, f"{leak}"),                                   # whole doc
            (4, f"{leak} {leak} bridge tokens"),              # repeated leak
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (
            r["n_contam_spans"],
            r["contam_tokens_removed"],
            r["clean_text"],
        )
        for r in decontaminate_spans(corpus, evalset, k=5).collect()
    }
    assert out[2] == (0, 0, "completely unrelated training document text body")
    # doc 1: one merged span covering the 9 leak tokens
    assert out[1] == (1, 9, "intro words trailing words here")
    # doc 3: everything removed
    assert out[3] == (1, 9, "")
    # doc 4: the two leaks plus the bridge windows spanning them merge
    # into intervals whose removal leaves only tokens never inside a
    # matched window
    assert out[4][2] == "bridge tokens"
    # consistency with the flag-only check: every doc the remover
    # touched is flagged contaminated, and only those
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in contamination_flags(corpus, evalset, k=5).collect()
    }
    assert {d for d, v in out.items() if v[0] > 0} == {
        d for d, v in flags.items() if v == 1
    }


def test_portable_minhash_slots_match_md5_reference(spark):
    """portable_minhash_md5s: slot s must equal int(md5(x+':'+str(s//4))
    hex chars [8*(s%4), 8*(s%4)+8], 16) — the exact formula every
    DuckDB oracle reproduces — and the portable signature frame must
    be the per-slot minimum of those values over the doc's distinct
    shingles."""
    import hashlib

    from bbdc20_submission_spark.operators.dedup import (
        minhash_signatures_df,
        portable_minhash_md5s,
        shingles_from_tokens,
        ws_tokens,
    )
    from pyspark.sql import functions as F

    def _ref(x: str, s: int) -> int:
        h = hashlib.md5(f"{x}:{s // 4}".encode()).hexdigest()
        return int(h[8 * (s % 4): 8 * (s % 4) + 8], 16)

    vals = ["alpha beta gamma", "x", ""]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = df.select(
        "v", *[c.alias(f"h{s}") for s, c in
               enumerate(portable_minhash_md5s(F.col("v"), 16))]
    ).collect()
    for r in got:
        for s in range(16):
            assert r[f"h{s}"] == _ref(r["v"], s), (r["v"], s)

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    sig = {
        r["_id"]: [r[f"h{s}"] for s in range(16)]
        for r in minhash_signatures_df(docs, portable=True).collect()
    }
    sh = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", shingles_from_tokens(ws_tokens("text"), 3).alias("sh")
        ).collect()
    }
    for i, text in [(1, None), (2, None), (3, None)]:
        want = [min(_ref(x, s) for x in sh[i]) for s in range(16)]
        assert sig[i] == want, i


def _hot_corpus_for_guard(spark):
    """The r10 hot-bucket corpus (shared block-0 bits force every
    block-0 bucket hot at cap=8) plus its brute-force truth — shared
    by the auto-guard tests."""
    import random as _random

    from pyspark.sql import types as T

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    rng = _random.Random(11)
    budget = 4  # s=3 blocks of ~21 bits
    fps = []
    for _ in range(40):
        base = (rng.getrandbits(42) << 22) | 0x2ABCDE
        fps.append(base)
        for _ in range(2):
            flipped = base
            for pos in rng.sample(range(22, 64), rng.randint(1, budget)):
                flipped ^= 1 << pos
            fps.append(flipped)
    truth = {
        (a, b)
        for a in range(len(fps))
        for b in range(a + 1, len(fps))
        if bin(fps[a] ^ fps[b]).count("1") <= budget
    }
    df = spark.createDataFrame(
        [(i, signed(f)) for i, f in enumerate(fps)],
        T.StructType(
            [
                T.StructField("_id", T.LongType(), False),
                T.StructField("_fp", T.LongType(), False),
            ]
        ),
    )
    return df, truth, budget


def test_hamming_auto_guard_stays_exact_inside_budget(spark):
    """AUTO mode (exact_hot_buckets=None, the default) with the
    default pair budget: the constructed hot corpus is far below 1e9
    estimated pair evals, so the guard must pick the exact plan — the
    emitted set equals the brute force and no degradation warning is
    raised."""
    import warnings as _warnings

    from bbdc20_submission_spark.operators.dedup import hamming_near_pairs

    df, truth, budget = _hot_corpus_for_guard(spark)
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")  # any UserWarning -> test failure
        out = {
            (r["id_a"], r["id_b"])
            for r in hamming_near_pairs(
                df, max_hamming=budget, bucket_cap=8
            ).collect()
        }
    assert out == truth


def test_hamming_auto_guard_degrades_past_budget(spark, monkeypatch):
    """AUTO mode past the pair budget: the guard must warn and switch
    to the bounded O(n*cap) plan — a strict SUBSET of the true pairs
    (nothing spurious, cross-sub pairs sampled away), while an
    explicit exact_hot_buckets=True opt-in ignores the budget and
    recovers exactness."""
    import pytest as _pytest

    from bbdc20_submission_spark.operators import dedup
    from bbdc20_submission_spark.operators.dedup import hamming_near_pairs

    monkeypatch.setattr(dedup, "_EXACT_PAIR_BUDGET", 100)
    df, truth, budget = _hot_corpus_for_guard(spark)
    with _pytest.warns(UserWarning, match="applicability window"):
        out = {
            (r["id_a"], r["id_b"])
            for r in hamming_near_pairs(
                df, max_hamming=budget, bucket_cap=8
            ).collect()
        }
    assert out < truth, (len(out), len(truth))
    exact = {
        (r["id_a"], r["id_b"])
        for r in hamming_near_pairs(
            df, max_hamming=budget, bucket_cap=8, exact_hot_buckets=True
        ).collect()
    }
    assert exact == truth


def test_sub_bucket_helpers_semantics(spark):
    """r12: direct pins on the bounded-plan primitives — (a) rows in
    NON-hot buckets get exactly one sub (0 for the single-assignment
    form, a single row for the multi-round form), so certified-SF
    plans carry zero extra rows; (b) hot-bucket subs stay inside
    [0, ceil(n/cap)); (c) the salted single assignment agrees between
    two frames tagged against the same hot dim (the index/probe
    consistency the self-join relies on); (d) salting by the bucket
    key decorrelates a hot id's sub across bands."""
    from bbdc20_submission_spark.operators.dedup import (
        _apply_sub_buckets,
        _hot_buckets,
        _multi_sub_buckets,
    )

    rows = [(i, 0 if i < 100 else 1 + i % 6) for i in range(130)]
    frame = spark.createDataFrame(rows, "_id long, bucket long")
    banded = frame.select("_id", "bucket").withColumn(
        "band", F.explode(F.array(F.lit(0), F.lit(1)))
    )
    hot = _hot_buckets(banded, ["band", "bucket"], 8)
    assert {(r["band"], r["bucket"]) for r in hot.collect()} == {
        (0, 0), (1, 0)
    }
    m = -(-100 // 8)  # ceil
    one = _apply_sub_buckets(
        banded, hot, ["band", "bucket"], "_id", 8, salt_cols=("band", "bucket")
    ).collect()
    for r in one:
        if r["bucket"] == 0:
            assert 0 <= r["sub_bucket"] < m
        else:
            assert r["sub_bucket"] == 0
    # (c) deterministic across frames
    two = _apply_sub_buckets(
        banded, hot, ["band", "bucket"], "_id", 8, salt_cols=("band", "bucket")
    ).collect()
    assert {(r["_id"], r["band"], r["sub_bucket"]) for r in one} == {
        (r["_id"], r["band"], r["sub_bucket"]) for r in two
    }
    # (d) the same hot id maps to DIFFERENT subs in at least one band
    # pair for some id (probability of full agreement across 100 ids
    # and 2 bands is ~(1/m)^... astronomically small)
    per_id = {}
    for r in one:
        if r["bucket"] == 0:
            per_id.setdefault(r["_id"], []).append(r["sub_bucket"])
    assert any(len(set(v)) > 1 for v in per_id.values())
    multi = _multi_sub_buckets(
        banded, hot, ["band", "bucket"], "_id", 8, 4,
        salt_cols=("band", "bucket"),
    ).collect()
    cold = [r for r in multi if r["bucket"] != 0]
    assert len(cold) == sum(1 for r in banded.collect() if r["bucket"] != 0)
    assert all(r["sub_bucket"] == 0 for r in cold)
    hot_subs = {}
    for r in multi:
        if r["bucket"] == 0:
            assert 0 <= r["sub_bucket"] < m
            hot_subs.setdefault((r["_id"], r["band"]), set()).add(
                r["sub_bucket"]
            )
    # up to 4 distinct subs per (id, band); at least 2 for most
    assert all(1 <= len(s) <= 4 for s in hot_subs.values())
    assert sum(len(s) for s in hot_subs.values()) > 1.5 * len(hot_subs)


def test_hamming_bounded_plan_connects_capped_family(spark):
    """r12 (ADVICE): the bounded hamming plan (exact_hot_buckets=False,
    media_near_dups' default) must keep a hot-bucket dup family ONE
    connected component across its sub-buckets — the r11 form dropped
    every cross-sub edge (sub assignment hashed the id identically in
    every band), splitting an n-member family into ceil(n/cap)
    components so downstream keep-one-per-family clustering kept
    ~n/cap representatives. The chain edges are hamming-verified, so
    the output contract (every row within budget) must also hold."""
    from bbdc20_submission_spark.operators.dedup import hamming_near_pairs

    n_fam = 200
    # one mass-duplication family: identical fingerprints (the
    # re-encoded-asset case media dedup exists for) ...
    rows = [(i, 0x0123456789ABCDEF) for i in range(n_fam)]
    # ... plus unrelated far-away docs: 10 one-bits at disjoint
    # positions pairwise => mutual hamming 20 and >= 10 from the family
    fam_fp = 0x0123456789ABCDEF
    far_ids = []
    for k in range(3):
        v = 0
        for j in range(10):
            v |= 1 << ((k * 10 + j) % 60)
        v ^= fam_fp
        far_ids.append(1000 + k)
        rows.append((1000 + k, v - (1 << 64) if v >= (1 << 63) else v))
    df = spark.createDataFrame(rows, "_id long, _fp long")
    out = hamming_near_pairs(
        df, max_hamming=4, bucket_cap=8, exact_hot_buckets=False
    ).collect()
    assert all(r["hamming"] <= 4 for r in out)
    pairs = [(r["id_a"], r["id_b"]) for r in out]
    # far docs never pair (distance >= 10 from everything)
    assert all(a < n_fam and b < n_fam for a, b in pairs), sorted(
        p for p in pairs if p[0] >= n_fam or p[1] >= n_fam
    )[:5]
    parent = list(range(n_fam))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(n_fam)}) == 1, (
        "family split into components under the bounded plan"
    )


def test_hamming_bounded_probe_rounds_lift_recall(spark, monkeypatch):
    """r12: on the hot guard corpus, the bounded plan's pair recall
    must (a) never emit anything outside the brute-force truth, and
    (b) be lifted by more probe rounds — rounds=4 (the
    _BOUNDED_PROBE_ROUNDS constant) recovers a superset-or-equal,
    strictly larger here, pair set than rounds=1."""
    from bbdc20_submission_spark.operators import dedup
    from bbdc20_submission_spark.operators.dedup import hamming_near_pairs

    df, truth, budget = _hot_corpus_for_guard(spark)

    def bounded(rounds):
        monkeypatch.setattr(dedup, "_BOUNDED_PROBE_ROUNDS", rounds)
        return {
            (r["id_a"], r["id_b"])
            for r in hamming_near_pairs(
                df, max_hamming=budget, bucket_cap=8, exact_hot_buckets=False
            ).collect()
        }

    r1, r4 = bounded(1), bounded(4)
    assert r1 <= truth and r4 <= truth
    # rounds=1 probes with salt 0 only, a subset of rounds=4's salts
    # 0..3, so its pair set is contained by construction — and the
    # extra rounds must actually recover pairs on this all-hot corpus
    assert r1 <= r4
    assert len(r4) > len(r1), (len(r1), len(r4), len(truth))


def test_chain_edges_survive_mixed_hot_bucket(spark):
    """r11 (ADVICE): a hot LSH bucket that MIXES a genuine dup family
    with band-signature-collision docs (high shingle overlap, below
    the verify threshold) must still reconnect the family after the
    downstream jaccard verify. The min+max reps per sub make a chain
    link fail only when a collision doc holds BOTH id extremes of a
    sub; collision ids here sit in the middle of the family id range,
    so every sub's extremes are family members and the verified chain
    holds."""
    family_text = " ".join(f"tok{j}" for j in range(40))
    rows = []
    fam_ids = list(range(0, 300)) + list(range(700, 1000))
    for i in fam_ids:
        rows.append((i, family_text))
    col_ids = list(range(400, 600))
    for i in col_ids:
        suffix = " ".join(f"uniq{i}_{j}" for j in range(20))
        rows.append((i, family_text + " " + suffix))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, bucket_cap=32
    )
    cand_pairs = [(r["id_a"], r["id_b"]) for r in cands.collect()]
    fam = set(fam_ids)
    # the scenario must actually occur: collision docs share hot
    # buckets with the family (mixed bucket), i.e. family-collision
    # candidate pairs exist before the verify
    assert any((a in fam) != (b in fam) for a, b in cand_pairs)
    verified = jaccard_pairs(
        docs, cands, shingle_k=3, min_jaccard=0.95
    ).filter(F.col("jaccard") >= 0.95)
    pairs = [(r["id_a"], r["id_b"]) for r in verified.collect()]
    # nothing below the verify bar survives (collision docs are ~0.65
    # jaccard vs the family, ~0.49 vs each other)
    assert all(a in fam and b in fam for a, b in pairs)
    # the family is ONE component across all its sub-buckets
    idx = {d: k for k, d in enumerate(sorted(fam))}
    parent = list(range(len(fam)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(idx[a])] = find(idx[b])
    assert len({find(i) for i in range(len(fam))}) == 1
