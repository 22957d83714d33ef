"""Maximal shared-passage extraction + keep-first span dedup.

Differential tests against an independent pure-python oracle:
`shared_passages` must report exactly the maximal shared token runs
(ExactSubstr semantics, Lee et al. 2022 — the dot-plot diagonal
construction), and `remove_duplicate_spans_keep_first` must keep one
canonical copy of every duplicated passage where
`remove_duplicate_spans` cuts all of them.
"""

from __future__ import annotations

import re

import pytest

from annotation_service_spark.operators import dedup as dd


def _toks(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _brute_passages(docs, k, min_tokens):
    """All maximal shared runs between doc pairs, by diagonal scan."""
    toks = {i: _toks(t) for i, t in docs}
    grams = {
        i: [tuple(ts[p : p + k]) for p in range(len(ts) - k + 1)]
        for i, ts in toks.items()
    }
    out = set()
    ids = sorted(toks)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            matches = {
                (pa, pb)
                for pa, ga in enumerate(grams[a])
                for pb, gb in enumerate(grams[b])
                if ga == gb
            }
            by_diag: dict[int, list[int]] = {}
            for pa, pb in matches:
                by_diag.setdefault(pa - pb, []).append(pa)
            for diag, pas in by_diag.items():
                pas.sort()
                run_start = pas[0]
                prev = pas[0]
                for pa in pas[1:] + [None]:
                    if pa is not None and pa == prev + 1:
                        prev = pa
                        continue
                    length = prev - run_start + k
                    if length >= min_tokens:
                        out.add((a, b, run_start, run_start - diag, length))
                    if pa is not None:
                        run_start = prev = pa
    return out


PASSAGE = "the quick brown fox jumps over the lazy dog again and again today"


@pytest.fixture()
def passage_docs(spark):
    rows = [
        # 1 and 2 share PASSAGE (13 tokens) at different offsets
        (1, "alpha beta " + PASSAGE + " gamma delta epsilon zeta"),
        (2, "one two three four " + PASSAGE + " five six"),
        # 3 shares a shorter run with 1/2 (first 9 tokens of PASSAGE)
        (3, "unrelated prefix words here " + " ".join(PASSAGE.split()[:9]) + " totally different tail"),
        # 4 shares nothing
        (4, "completely independent document content with no overlap at all whatsoever"),
        # 5 duplicates PASSAGE twice internally and shares with 1/2
        (5, PASSAGE + " interlude words " + PASSAGE),
    ]
    return rows, spark.createDataFrame(rows, "doc_id long, text string")


def test_shared_passages_matches_bruteforce(spark, passage_docs):
    rows, df = passage_docs
    k, mt = 4, 7
    got = {
        (r.id_a, r.id_b, r.start_a, r.start_b, r.length)
        for r in dd.shared_passages(df, k=k, min_tokens=mt, max_df=None).collect()
    }
    exp = _brute_passages(rows, k, mt)
    assert got == exp
    # sanity on the planted structure: the full 13-token passage is
    # reported between 1 and 2, and 5 reports TWO runs against 1
    lens_12 = {t[4] for t in got if t[:2] == (1, 2)}
    assert 13 in lens_12
    assert sum(1 for t in got if t[:2] == (1, 5)) == 2


def test_shared_passages_default_threshold_suppresses_lone_anchors(
    spark, passage_docs
):
    """With the default min_tokens=2k-1, a single colliding k-gram
    (run of one anchor, length k) never reports."""
    rows, df = passage_docs
    out = dd.shared_passages(df, k=4, max_df=None).collect()
    assert all(r.length >= 7 for r in out)
    exp = _brute_passages(rows, 4, 7)
    assert {(r.id_a, r.id_b, r.start_a, r.start_b, r.length) for r in out} == exp


def test_keep_first_preserves_one_copy(spark, passage_docs):
    """remove_duplicate_spans cuts every occurrence of a duplicated
    passage; the keep-first form must keep exactly the canonical
    first (min (id, pos)) occurrence — so doc 1 (the corpus-first
    holder of PASSAGE) keeps its full text, later holders lose it."""
    rows, df = passage_docs
    k = 4
    all_cut = {r.id: r for r in dd.remove_duplicate_spans(df, k=k).collect()}
    keep1 = {
        r.id: r for r in dd.remove_duplicate_spans_keep_first(df, k=k).collect()
    }
    # doc 4 shares nothing: untouched in both
    assert keep1[4].n_kept == keep1[4].n_tokens == all_cut[4].n_kept
    # doc 1 holds the canonical first occurrence -> loses NOTHING
    assert keep1[1].n_kept == keep1[1].n_tokens
    assert all_cut[1].n_kept < all_cut[1].n_tokens  # total-cut removed it
    # doc 2's copy is non-canonical -> removed in keep-first too
    assert keep1[2].n_kept < keep1[2].n_tokens
    assert PASSAGE not in keep1[2].clean_text
    # every doc keeps at least as much under keep-first as under total cut
    for i in keep1:
        assert keep1[i].n_kept >= all_cut[i].n_kept
    # corpus-wide, at least one copy of the passage text survives
    surviving = " | ".join(r.clean_text for r in keep1.values())
    assert PASSAGE in surviving


def test_keep_first_internal_repeat(spark):
    """A passage repeated WITHIN one document: the first occurrence
    is canonical, the later one is cut."""
    p = "zero one two three four five six seven"
    df = spark.createDataFrame(
        [(7, p + " filler words go here " + p)], "doc_id long, text string"
    )
    out = dd.remove_duplicate_spans_keep_first(df, k=4).collect()[0]
    assert 0 < out.n_kept < out.n_tokens
    assert out.clean_text.startswith(p)
    # the second copy is gone
    assert out.clean_text.count("zero one two three") == 1


def test_shared_passages_randomized_differential(spark):
    """Randomized corpora vs the brute-force diagonal scan: small
    vocab so accidental k-gram collisions, internal repeats, and
    overlapping runs all arise naturally; several (k, min_tokens)
    regimes."""
    import random

    rng = random.Random(23)
    vocab = [f"t{i}" for i in range(12)]
    for trial in range(4):
        rows = []
        for did in range(1, 9):
            n = rng.randrange(5, 40)
            words = [rng.choice(vocab) for _ in range(n)]
            # occasionally splice a chunk of an earlier doc in
            if rows and rng.random() < 0.6:
                src = rng.choice(rows)[1].split()
                if len(src) > 6:
                    a = rng.randrange(0, len(src) - 4)
                    b = rng.randrange(a + 3, min(len(src), a + 15))
                    at = rng.randrange(0, len(words))
                    words[at:at] = src[a:b]
            rows.append((did, " ".join(words)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        k = rng.choice([3, 4])
        mt = rng.choice([k, 2 * k - 1])
        got = {
            (r.id_a, r.id_b, r.start_a, r.start_b, r.length)
            for r in dd.shared_passages(
                df, k=k, min_tokens=mt, max_df=None
            ).collect()
        }
        exp = _brute_passages(rows, k, mt)
        assert got == exp, (trial, k, mt, got ^ exp)


def test_shared_passage_anchors_superset_of_runs(spark, passage_docs):
    """Anchor observability: every reported run of length L is backed
    by exactly L-k+1 anchors on its diagonal, so the anchor count is
    a true upper-bound resource measure for the operator."""
    rows, df = passage_docs
    k = 4
    anchors = dd.shared_passage_anchors(df, k=k, max_df=None).collect()
    akey = {(r.id_a, r.id_b, r.diag, r.pa) for r in anchors}
    runs = dd.shared_passages(df, k=k, min_tokens=k, max_df=None).collect()
    for r in runs:
        diag = r.start_a - r.start_b
        for pa in range(r.start_a, r.start_a + r.length - k + 1):
            assert (r.id_a, r.id_b, diag, pa) in akey
    assert len(akey) >= sum(r.length - k + 1 for r in runs)


def test_shared_passages_max_df_cap_splits_through_hot_grams(spark):
    """A max_df stop-gram cap drops every k-gram in more than max_df
    documents, so a shared run through a hot phrase comes back split
    or shortened, while a run with a genuinely differing middle is
    reported exactly as the uncapped brute-force scan reports it.
    Pair 1/2 shares a run with a hot interior; pair 3/4 shares two
    runs on one diagonal around a differing token; pair 6/7 shares a
    run split by two hot phrases. The 20 filler documents make both
    phrases hot (document frequency 22 or more against a cap of 10)."""
    hot = "h1 h2 h3 h4 h5 h6 h7 h8"
    hot2 = "g1 g2 g3 g4 g5 g6 g7 g8"
    fillers = [
        (100 + i, f"pre{i} junk{i} " + hot + f" mid{i} " + hot2 + f" tail{i}")
        for i in range(20)
    ]
    shared = "u1 u2 " + hot + " v1 v2 v3 v4 v5 v6"
    pair = [(1, "aaa bbb " + shared + " ccc"), (2, "xxx " + shared + " yyy zzz")]
    ctrl = [
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 mida q1 q2 q3 q4 q5 q6 q7 q8"),
        (4, "w1 w2 w3 w4 w5 w6 w7 w8 midb q1 q2 q3 q4 q5 q6 q7 q8"),
    ]
    shared2 = "m1 m2 m3 " + hot + " n1 n2 n3 " + hot2 + " o1 o2 o3"
    chain = [(6, "lead " + shared2), (7, shared2 + " trail words")]
    rows = pair + ctrl + chain + fillers
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k, mt, cap = 4, 7, 10

    def runs(out, a, b):
        return {
            (r.start_a, r.start_b, r.length)
            for r in out
            if (r.id_a, r.id_b) == (a, b)
        }

    def brute(a, b):
        docs = [r for r in rows if r[0] in (a, b)]
        return {t[2:] for t in _brute_passages(docs, k, mt)}

    uncapped = dd.shared_passages(df, k=k, min_tokens=mt, max_df=None).collect()
    split = dd.shared_passages(df, k=k, min_tokens=mt, max_df=cap).collect()

    assert runs(uncapped, 1, 2) == brute(1, 2)
    assert len(runs(uncapped, 1, 2)) == 1
    assert runs(split, 1, 2) != runs(uncapped, 1, 2)

    assert len(brute(3, 4)) == 2
    assert runs(split, 3, 4) == runs(uncapped, 3, 4) == brute(3, 4)

    assert runs(uncapped, 6, 7) == brute(6, 7)
    assert len(brute(6, 7)) == 1
    assert runs(split, 6, 7)
    assert max(t[2] for t in runs(split, 6, 7)) < max(
        t[2] for t in runs(uncapped, 6, 7)
    )
