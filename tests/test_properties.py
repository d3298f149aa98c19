"""Hypothesis property tests for the semantics SURVEY §5.3 flags as
risky: A3 telescoping identity, W2 frame/cut rules, J2 grid-expansion
coverage. Each example packs many random groups into one DataFrame so
a Spark roundtrip amortizes over the whole batch."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bbdc20_submission_spark.operators.aggregates import telescoping_mean_diff
from bbdc20_submission_spark.operators.windows import frame_id
from bbdc20_submission_spark.plans.bbdc import expand_targets

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SLOW
@given(
    groups=st.lists(
        st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=2, max_size=30),
        min_size=1,
        max_size=8,
    )
)
def test_telescoping_identity(spark, groups):
    """(last-first)/(n-1) == mean(diff(x)) for every ordered group."""
    rows = [
        (g, i, float(v)) for g, vals in enumerate(groups) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "g long, i long, v double")
    got = {
        r["g"]: r["md"]
        for r in df.groupBy("g")
        .agg(telescoping_mean_diff("v", F.col("i")).alias("md"))
        .collect()
    }
    for g, vals in enumerate(groups):
        diffs = [b - a for a, b in zip(vals, vals[1:])]
        want = sum(diffs) / len(diffs)
        assert math.isclose(got[g], want, rel_tol=1e-9, abs_tol=1e-9)


def test_telescoping_single_row_group_is_null(spark):
    """A one-row group has no diffs: the documented answer is NULL,
    not ANSI's DIVIDE_BY_ZERO."""
    df = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 4.0), (1, 0, 7.0)], "g long, i long, v double"
    )
    got = {
        r["g"]: r["md"]
        for r in df.groupBy("g")
        .agg(telescoping_mean_diff("v", F.col("i")).alias("md"))
        .collect()
    }
    assert got == {0: 3.0, 1: None}


# a zero scale divides by 1 (sklearn's _handle_zeros_in_scale): every
# row of a one-row or constant group scales to 0
_SCALED_ZEROS = [(0, 0.0), (1, 0.0), (1, 0.0), (1, 0.0)]
# documented [g, out] rows for group 0 = one row of 3.0 and group 1 =
# three rows of 2.5
_EDGE_WANT = {
    # a one-row group has no diffs: NULL
    "telescoping_mean_diff": [(0, None), (1, 0.0)],
    "block_sum_diff": [(0, 0.0), (1, 0.0)],
    "signed_abs_max": [(0, 3.0), (1, 2.5)],
    "mode_lowest": [(0, 3.0), (1, 2.5)],
    "robust_scale": _SCALED_ZEROS,
    **{f"scale_group_{m}": _SCALED_ZEROS for m in ("standard", "zero_mean", "minmax", "robust")},
}


def _edge_plan(op, df):
    """``op`` over [g, i, v] as [g, out]."""
    from bbdc20_submission_spark.operators import aggregates as A
    from bbdc20_submission_spark.operators.scalers import scale_group

    if op == "telescoping_mean_diff":
        return df.groupBy("g").agg(A.telescoping_mean_diff("v", F.col("i")).alias("out"))
    if op == "signed_abs_max":
        return df.groupBy("g").agg(A.signed_abs_max("v").alias("out"))
    if op == "block_sum_diff":
        out = A.block_sum_diff(df, ["g"], "v", ["i"], 7)
        return out.withColumnRenamed("block_sum_diff", "out")
    if op == "mode_lowest":
        return A.mode_lowest(df, ["g"], "v", "out")
    if op == "robust_scale":
        return A.robust_scale(df, ["g"], "v", "out")
    mode = op.removeprefix("scale_group_")
    out = scale_group(df, ["g"], ["v"], mode=mode, suffix="_out")
    return out.withColumnRenamed("v_out", "out")


@pytest.mark.parametrize("op", sorted(_EDGE_WANT))
def test_aggregates_and_scalers_on_degenerate_groups(spark, op):
    """Every public aggregate and scaler returns its documented value
    on a one-row group and a constant group, and no rows on an empty
    frame — never ANSI's DIVIDE_BY_ZERO."""
    from bbdc20_submission_spark.operators.scalers import SCALER_MODES

    assert {f"scale_group_{m}" for m in SCALER_MODES} <= set(_EDGE_WANT)
    schema = "g long, i long, v double"
    rows = [(0, 0, 3.0), (1, 0, 2.5), (1, 1, 2.5), (1, 2, 2.5)]
    got = _edge_plan(op, spark.createDataFrame(rows, schema)).collect()
    assert sorted((r["g"], r["out"]) for r in got) == _EDGE_WANT[op]
    assert _edge_plan(op, spark.createDataFrame([], schema)).collect() == []


def _reference_frames(n_rows: int, win: int, shift: int, cut: int) -> list[list[int]]:
    """utils.py:10-16 semantics on row indices."""
    frames = [
        list(range(start, min(start + win, n_rows)))
        for start in range(0, n_rows, shift)
    ]
    return frames[:-cut] if cut else frames


@SLOW
@given(
    n_rows=st.integers(1, 60),
    win=st.integers(1, 12),
    shift=st.integers(1, 12),
    cut=st.integers(0, 2),
)
def test_frame_id_matches_reference_get_windows(spark, n_rows, win, shift, cut):
    """Frame ids + cut rule == reference get_windows row partitioning,
    for non-overlapping, overlapping (shift < win) and gapped
    (shift > win) configurations."""
    df = spark.createDataFrame(
        [("k", i) for i in range(n_rows)], "k string, i long"
    )
    out = frame_id(df, ["k"], ["i"], win_size=win, shift=shift, cut=cut)
    got: dict[int, list[int]] = {}
    for r in out.collect():
        got.setdefault(r["frame"], []).append(r["i"])
    want_frames = _reference_frames(n_rows, win, shift, cut)
    want = {fi: rows for fi, rows in enumerate(want_frames) if rows}
    assert {k: sorted(v) for k, v in got.items()} == want


@SLOW
@given(
    n_intervals=st.integers(1, 6),
    widths=st.lists(st.floats(0.05, 3.0, allow_nan=False), min_size=6, max_size=6),
)
def test_expand_targets_covers_every_grid_point_once(spark, n_intervals, widths):
    """Every 200 ms grid point strictly below the final interval end is
    labeled exactly once; labels follow the running cursor."""
    edges = [0.0]
    for w in widths[:n_intervals]:
        edges.append(edges[-1] + w)
    rows = [
        ("s01", "t01", "la", edges[i], edges[i + 1], f"a{i}")
        for i in range(n_intervals)
    ]
    df = spark.createDataFrame(
        rows, "subject string, trial string, arm string, start double, end double, action string"
    )
    out = expand_targets(df).collect()
    seen = {}
    for r in out:
        assert r["win_end"] not in seen, "grid point labeled twice"
        seen[r["win_end"]] = r["action"]
    # exact coverage: every grid point < last end * 1000
    expected_points = []
    w = 200
    while w < edges[-1] * 1000:
        expected_points.append(w)
        w += 200
    assert sorted(seen) == expected_points
    # cursor rule: each point takes the first interval whose end*1000
    # exceeds it
    for w, action in seen.items():
        for i in range(n_intervals):
            if w < edges[i + 1] * 1000:
                assert action == f"a{i}"
                break


def test_signed_abs_max_tie_resolves_positive(spark):
    """Reference tie rule (utils.py:38-45): np.where(-amin > amax,
    amin, amax) returns the POSITIVE value when |amin| == |amax|."""
    from bbdc20_submission_spark.operators.aggregates import signed_abs_max
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(0, -5.0), (0, 5.0), (0, 1.0),   # tie -> +5
         (1, -7.0), (1, 5.0),             # |min| wins -> -7
         (2, -3.0), (2, 9.0)],            # max wins -> 9
        "g long, v double",
    )
    got = {
        r["g"]: r["m"]
        for r in df.groupBy("g").agg(signed_abs_max("v").alias("m")).collect()
    }
    assert got == {0: 5.0, 1: -7.0, 2: 9.0}


@SLOW
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=3,
            max_size=12,
        ),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.7]),
)
def test_jaccard_size_prefilter_is_lossless(spark, docs, threshold):
    """jaccard_pairs(min_jaccard=t) must keep EXACTLY the >= t pairs
    the unfiltered computation finds — the size-ratio prefilter is a
    provable bound (inter <= min size, union >= max size), so no pair
    above the threshold may be dropped."""
    from bbdc20_submission_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    all_pairs = spark.createDataFrame(
        [(a, b) for a in range(len(docs)) for b in range(len(docs)) if a < b],
        "id_a long, id_b long",
    )
    plain = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(df, all_pairs, shingle_k=2).collect()
        if r["jaccard"] >= threshold
    }
    filtered = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, all_pairs, shingle_k=2, min_jaccard=threshold
        ).collect()
        if r["jaccard"] >= threshold
    }
    assert filtered == plain


@SLOW
@given(
    values=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=200,
    )
)
def test_micro_integerization_is_engine_portable(spark, values):
    """_micro (floor(x*1e6 + 0.5 + 1e-9) AS BIGINT) is composed only
    of IEEE-deterministic double ops, so DuckDB's identical expression
    must produce the identical integer for the identical input double
    — unlike round(x, 6), whose half-tie semantics differ by engine
    (the a8 round-2 red). Includes adversarial exact-tie inputs."""
    import duckdb

    from bbdc20_submission_spark.queries.timeseries import _micro

    # adversarial additions: values whose v*1e6 + 0.5 sits on/near ties
    values = list(values) + [0.0000005, -0.0000005, 1.0000005, -33.2609375]
    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = [r["m"] for r in df.select(_micro("x").alias("m")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT CAST(floor(? * 1e6 + 0.5 + 1e-9) AS BIGINT)", [v]
        ).fetchone()[0]
        for v in values
    ]
    con.close()
    assert got == want


@SLOW
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=0,
        max_size=80,
    )
)
def test_union_find_matches_reachability(spark, edges):
    """Driver union-find must label every node with the min id
    reachable from it (brute-force transitive closure as ground
    truth). Pure-python property — no Spark roundtrip needed."""
    from bbdc20_submission_spark.operators.chunking import _union_find_components

    edges = [(a, b) for a, b in edges if a != b]
    got = _union_find_components(edges)
    # brute force: adjacency BFS
    from collections import defaultdict, deque

    adj = defaultdict(set)
    nodes = set()
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
        nodes.update((a, b))
    for n in nodes:
        seen = {n}
        q = deque([n])
        while q:
            x = q.popleft()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    q.append(y)
        assert got[n] == min(seen)
    assert set(got) == nodes


@SLOW
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "f"]),
            min_size=2,
            max_size=10,
        ),
        min_size=2,
        max_size=8,
    ),
    chunk_tokens=st.sampled_from([2, 3]),
)
def test_boilerplate_detection_matches_python_reference(spark, docs, chunk_tokens):
    """boilerplate_chunks must flag exactly the chunk texts that a
    pure-python chunker finds in >= 2 distinct docs, with matching
    doc/occurrence counts."""
    from bbdc20_submission_spark.operators.chunking import boilerplate_chunks

    corpus = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")

    # python reference: same chunking convention (stride = chunk_tokens,
    # ragged tail kept, min 1 chunk)
    ref: dict[str, tuple[set, int]] = {}
    for i, toks in enumerate(docs):
        chunks = [
            " ".join(toks[s : s + chunk_tokens])
            for s in range(0, max(len(toks), 1), chunk_tokens)
        ] or [""]
        for c in chunks:
            d, n = ref.get(c, (set(), 0))
            ref[c] = (d | {i}, n + 1)
    want = {
        c: (len(d), n) for c, (d, n) in ref.items() if len(d) >= 2
    }
    got = {
        r["exemplar_text"]: (r["n_docs"], r["n_occurrences"])
        for r in boilerplate_chunks(
            df, chunk_tokens=chunk_tokens, min_docs=2
        ).collect()
    }
    assert got == want


def test_text_stats_empty_document_no_ansi_crash(spark):
    """An empty document must not abort the job with DIVIDE_BY_ZERO
    under Spark 4's default ANSI mode: char-denominator ratios come
    back 0.0, the quality score stays finite."""
    from bbdc20_submission_spark.operators.text import quality_score

    df = spark.createDataFrame(
        [(1, ""), (2, "the quick brown fox is in the barn")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in quality_score(df).collect()}
    empty = rows[1]
    assert empty["stat_n_chars"] == 0
    assert empty["stat_punct_ratio"] == 0.0
    assert empty["stat_digit_ratio"] == 0.0
    assert empty["quality"] is not None and 0.0 <= empty["quality"] <= 1.0
    assert rows[2]["quality"] > empty["quality"]


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 3, 4]),
)
def test_decontaminate_spans_matches_python_reference(spark, docs, k):
    """decontaminate_spans must equal an INDEPENDENT pure-python
    formulation: mark every token position covered by any corpus
    window matching an eval window, then n_contam_spans = number of
    maximal covered runs (the operator's touching-intervals-merge
    rule expressed as position coverage), removed = |covered|,
    clean_text = uncovered tokens rejoined. A 3-token vocabulary
    forces heavy window overlap — the interval-merge edge cases (runs
    touching, runs at doc start/end, whole-doc coverage, eval docs
    shorter than k) all occur naturally."""
    from bbdc20_submission_spark.operators.dedup import decontaminate_spans

    corpus = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    # eval set: every third doc (possibly none long enough for windows)
    eval_rows = [(t,) for i, (_, t) in enumerate(corpus) if i % 3 == 0]

    evw: set = set()
    for (t,) in eval_rows:
        toks = t.split(" ")
        for s in range(len(toks) - k + 1):
            evw.add(tuple(toks[s : s + k]))
    want = {}
    for i, (_, t) in enumerate(corpus):
        toks = t.split(" ")
        covered = set()
        for s in range(len(toks) - k + 1):
            if tuple(toks[s : s + k]) in evw:
                covered.update(range(s, s + k))
        runs = sum(
            1 for p in covered if p - 1 not in covered
        )
        clean = " ".join(
            tok for p, tok in enumerate(toks) if p not in covered
        )
        want[i] = (runs, len(covered), clean)

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "text string")
    got = {
        r["doc_id"]: (
            r["n_contam_spans"],
            r["contam_tokens_removed"],
            r["clean_text"],
        )
        for r in decontaminate_spans(df, ev, k=k).collect()
    }
    assert got == want


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    old_ids=st.sets(st.integers(min_value=0, max_value=15), max_size=10),
    new_ids=st.sets(st.integers(min_value=0, max_value=15), max_size=10),
    edited=st.sets(st.integers(min_value=0, max_value=15), max_size=6),
)
def test_corpus_diff_statuses_match_python_reference(
    spark, old_ids, new_ids, edited
):
    """corpus_diff's exact-diff half (match_renames=False) must equal
    a trivial python dict diff for ANY id overlap pattern — including
    empty sides, disjoint versions, and ids edited in new. Exercises
    the full-outer-join status derivation independent of content."""
    from bbdc20_submission_spark.operators.incremental import corpus_diff

    def _text(i: int, side: str) -> str:
        return f"doc {i} body " + ("EDITED" if side == "new" and i in edited else "base")

    schema = "doc_id long, text string"
    old = spark.createDataFrame(
        [(i, _text(i, "old")) for i in sorted(old_ids)], schema
    )
    new = spark.createDataFrame(
        [(i, _text(i, "new")) for i in sorted(new_ids)], schema
    )
    want = {}
    for i in old_ids | new_ids:
        if i not in old_ids:
            want[i] = "added"
        elif i not in new_ids:
            want[i] = "removed"
        elif i in edited:
            want[i] = "modified"
        else:
            want[i] = "unchanged"
    got = {
        r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()
    }
    assert got == want


def test_charclass_counts_translate_equals_regex(spark):
    """r11 pin: _raw_text_stats_sql counts char classes via translate
    (delete-the-class, diff the lengths) — must equal the
    regexp_replace('[^...]') formulation EXACTLY on adversarial
    inputs: unicode letters outside [a-zA-Z] (must NOT count),
    digits embedded in words, empty and whitespace-only strings,
    punctuation-only, and multi-byte codepoints (length() counts
    chars, not bytes, identically in both forms)."""
    from pyspark.sql import functions as F

    rows = [
        ("",),
        (" ",),
        ("   ",),
        ("abc XYZ 012",),
        ("héllo wörld Ünicode",),  # accented letters are NOT a-zA-Z
        ("漢字テスト 123",),
        ("!!!...,,,;;;",),
        ("a1b2c3 _-_ [brackets] (parens)",),
        ("tok_63 tok_63 tok_63",),  # the salted-replica shape
        ("ţŢǅǱ ǆǲ",),  # odd-case unicode
        ("\tTAB\tand\nnewline\n",),  # \t \n are neither space nor alnum
    ]
    df = spark.createDataFrame(rows, "text string")
    t = F.col("text")
    letters = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    pairs = {
        "alpha": (
            F.length(F.regexp_replace(t, "[^a-zA-Z]", "")),
            F.length(t) - F.length(F.translate(t, letters, "")),
        ),
        "digit": (
            F.length(F.regexp_replace(t, "[^0-9]", "")),
            F.length(t) - F.length(F.translate(t, "0123456789", "")),
        ),
        "space": (
            F.length(F.regexp_replace(t, "[^ ]", "")),
            F.length(t) - F.length(F.translate(t, " ", "")),
        ),
    }
    out = df.select(
        "text",
        *[e.alias(f"{k}_re") for k, (e, _) in pairs.items()],
        *[e.alias(f"{k}_tr") for k, (_, e) in pairs.items()],
    ).collect()
    for r in out:
        for k in pairs:
            assert r[f"{k}_re"] == r[f"{k}_tr"], (r["text"], k)
