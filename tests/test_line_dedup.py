"""Line-level boilerplate removal + keep-first line dedup
(operators/curation.py — the CCNet/RefinedWeb line-hash family).

Differential tests against a pure-python replay: remove_boilerplate_
lines must drop exactly the lines whose normalized form exceeds the
distinct-document threshold, dedup_lines_keep_first must keep exactly
one canonical (first by (id, line_no)) copy of every repeated line,
and both must reassemble documents in original line order.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from annotation_service_spark.operators.curation import (
    dedup_lines_keep_first,
    dedup_sentences_keep_first,
    remove_boilerplate_lines,
)


def _norm(line: str) -> str:
    return re.sub(r"\s+", " ", line.lower()).strip()


BOILER = "Accept  COOKIES to continue"
FOOTER = "copyright 2026 example corp"


def _docs():
    rows = []
    for i in range(40):
        lines = [f"unique body {i} alpha", BOILER, f"more text {i} beta"]
        if i % 2 == 0:
            lines.append(FOOTER)
        if i == 7:
            lines.append("accept cookies  TO  continue")  # norm-equal twin
        rows.append((i, "\n".join(lines)))
    rows.append((100, "singleton doc\nwith its own lines only"))
    return rows


def test_remove_boilerplate_lines_matches_replay(spark):
    rows = _docs()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: (r.n_lines, r.n_kept, r.clean_text)
        for r in remove_boilerplate_lines(df, max_line_df=10).collect()
    }
    # python replay
    doc_lines = {i: t.split("\n") for i, t in rows}
    df_count: dict[str, set] = {}
    for i, ls in doc_lines.items():
        for l in ls:
            df_count.setdefault(_norm(l), set()).add(i)
    hot = {n for n, s in df_count.items() if len(s) > 10}
    exp = {}
    for i, ls in doc_lines.items():
        kept = [l for l in ls if _norm(l) not in hot]
        exp[i] = (len(ls), len(kept), "\n".join(kept))
    assert out == exp
    # the planted structure actually exercised both paths
    assert all(BOILER not in v[2] for v in out.values())
    # FOOTER appears in 20 docs > threshold 10 -> also removed
    assert all(FOOTER not in v[2] for v in out.values())
    assert out[100] == (2, 2, "singleton doc\nwith its own lines only")
    # normalization catches the spacing/case twin
    assert "accept cookies" not in out[7][2].lower()


def test_remove_boilerplate_threshold_boundary(spark):
    rows = _docs()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # FOOTER is in exactly 20 docs: at max_line_df=20 ("> 20") it stays
    out = {
        r.id: r.clean_text
        for r in remove_boilerplate_lines(df, max_line_df=20).collect()
    }
    assert FOOTER in out[0]
    assert all(BOILER not in t for t in out.values())  # 41 docs > 20


def test_dedup_lines_keep_first_matches_replay(spark):
    rows = _docs()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: (r.n_lines, r.n_kept, r.clean_text)
        for r in dedup_lines_keep_first(df).collect()
    }
    doc_lines = {i: t.split("\n") for i, t in rows}
    occ: dict[str, list] = {}
    for i in sorted(doc_lines):
        for ln, l in enumerate(doc_lines[i]):
            occ.setdefault(_norm(l), []).append((i, ln))
    exp = {}
    for i, ls in doc_lines.items():
        kept = [
            l
            for ln, l in enumerate(ls)
            if len(occ[_norm(l)]) == 1 or occ[_norm(l)][0] == (i, ln)
        ]
        exp[i] = (len(ls), len(kept), "\n".join(kept))
    assert out == exp
    # exactly ONE copy of the boilerplate line survives, in doc 0
    survivors = [i for i, v in out.items() if BOILER.lower() in v[2].lower()
                 or "accept cookies" in v[2].lower()]
    assert survivors == [0]


def test_line_ops_empty_and_fully_removed_docs(spark):
    """A doc whose every line is boilerplate comes back with
    n_kept=0 and empty clean_text, not a dropped row."""
    rows = [(i, "same line\nsame line two") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_boilerplate_lines(df, max_line_df=5).collect()
    assert len(out) == 12
    assert all(r.n_kept == 0 and r.clean_text == "" for r in out)
    kf = {r.id: r.n_kept for r in dedup_lines_keep_first(df).collect()}
    assert kf[0] == 2 and all(v == 0 for i, v in kf.items() if i != 0)


def test_blank_lines_are_structure_not_boilerplate(spark):
    """ADVICE r12: blank (and whitespace-only) lines are paragraph
    STRUCTURE — they must be excluded from the hot-line count and the
    keep-first dedup key, or a corpus where blanks exceed the
    threshold silently collapses every paragraph break."""
    rows = [
        (i, f"para one {i}\n\npara two {i}\n \nend {i}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: (r.n_lines, r.n_kept, r.clean_text)
        for r in remove_boilerplate_lines(df, max_line_df=5).collect()
    }
    # blanks occur in all 30 docs (> 5) yet every line survives
    for i in range(30):
        assert out[i] == (5, 5, f"para one {i}\n\npara two {i}\n \nend {i}")
    kf = {
        r.id: (r.n_lines, r.n_kept, r.clean_text)
        for r in dedup_lines_keep_first(df).collect()
    }
    # blanks repeat corpus-wide but are never deduped to one copy
    for i in range(30):
        assert kf[i] == (5, 5, f"para one {i}\n\npara two {i}\n \nend {i}")


_BROADCAST_CONFS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


@contextmanager
def _no_broadcast(spark):
    """Both the static and the adaptive planner refuse every
    broadcast inside the block; the session's values come back after."""
    saved = {k: spark.conf.get(k) for k in _BROADCAST_CONFS}
    try:
        for k in _BROADCAST_CONFS:
            spark.conf.set(k, "-1")
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _rows_and_plan(df):
    """(rows, final adaptive plan text) of one action on ``df``."""
    rows = sorted(tuple(r) for r in df.collect())
    return rows, df._jdf.queryExecution().executedPlan().toString()


def _paths_agree(spark, build):
    """The join strategy AQE picks for the hot/duplicated subset
    changes the plan, never the answer: the same call with every
    broadcast refused (a content-keyed shuffle join) returns
    identical rows."""
    fast, fast_plan = _rows_and_plan(build())
    with _no_broadcast(spark):
        slow, slow_plan = _rows_and_plan(build())
    assert "BroadcastHashJoin" in fast_plan, fast_plan
    assert "BroadcastHashJoin" not in slow_plan, slow_plan
    assert fast == slow and fast


def test_keep_first_broadcast_and_shuffle_paths_agree(spark):
    """Keep-first line dedup and boilerplate removal return identical
    rows whether their subset join broadcasts or shuffles."""
    df = spark.createDataFrame(_docs(), "doc_id long, text string")
    _paths_agree(spark, lambda: dedup_lines_keep_first(df))
    _paths_agree(spark, lambda: remove_boilerplate_lines(df, max_line_df=5))


def test_line_ops_randomized_differential(spark):
    """Randomized corpora (small line space so cross-doc repeats,
    internal repeats, blank lines, and threshold boundaries all arise
    naturally) vs the pure-python replay, several thresholds."""
    import random

    rng = random.Random(42)
    pool = [f"line variant {i}" for i in range(12)] + [
        "  Spaced   LINE  a ", "shared FOOTER text", "", "   "
    ]
    for trial in range(3):
        rows = []
        for did in range(20):
            n = rng.randrange(1, 8)
            rows.append((did, "\n".join(rng.choice(pool) for _ in range(n))))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        thr = rng.choice([1, 3, 6])

        doc_lines = {i: t.split("\n") for i, t in rows}
        df_count: dict[str, set] = {}
        occ: dict[str, list] = {}
        for i in sorted(doc_lines):
            for ln, l in enumerate(doc_lines[i]):
                df_count.setdefault(_norm(l), set()).add(i)
                occ.setdefault(_norm(l), []).append((i, ln))
        hot = {n_ for n_, s in df_count.items() if len(s) > thr and n_ != ""}

        out = {
            r.id: (r.n_lines, r.n_kept, r.clean_text)
            for r in remove_boilerplate_lines(df, max_line_df=thr).collect()
        }
        exp = {}
        for i, ls in doc_lines.items():
            kept = [l for l in ls if _norm(l) not in hot]
            exp[i] = (len(ls), len(kept), "\n".join(kept))
        assert out == exp, (trial, thr)

        out_kf = {
            r.id: (r.n_lines, r.n_kept, r.clean_text)
            for r in dedup_lines_keep_first(df).collect()
        }
        exp_kf = {}
        for i, ls in doc_lines.items():
            kept = [
                l
                for ln, l in enumerate(ls)
                if _norm(l) == ""
                or len(occ[_norm(l)]) == 1
                or occ[_norm(l)][0] == (i, ln)
            ]
            exp_kf[i] = (len(ls), len(kept), "\n".join(kept))
        assert out_kf == exp_kf, trial


# ---------------------------------------------------------------------------
# sentence-level family (r13): dedup_sentences_keep_first
# ---------------------------------------------------------------------------

def _seg(text: str) -> list[str]:
    """Python replica of the engine segmentation contract."""
    out = []
    for m in re.findall(r"[^.!?]+[.!?]*", text):
        s = m.strip(" \t\n\r\f")
        if s:
            out.append(s)
    return out


def _sent_replay(docs: dict[int, str]) -> dict[int, tuple[int, int, str]]:
    """Keep-first over sentences, pure Python."""
    units = []  # (doc, no, sent, norm)
    for d in sorted(docs):
        for i, s in enumerate(_seg(docs[d])):
            norm = re.sub(r"\s+", " ", s.lower()).strip()
            units.append((d, i, s, norm))
    firsts: dict[str, tuple[int, int]] = {}
    counts: dict[str, int] = {}
    for d, i, s, n in units:
        counts[n] = counts.get(n, 0) + 1
        firsts.setdefault(n, (d, i))
    out: dict[int, tuple[int, int, str]] = {}
    for d in docs:
        mine = [(i, s) for dd, i, s, n in units if dd == d
                and (counts[n] == 1 or firsts[n] == (d, i))]
        out[d] = (len(_seg(docs[d])), len(mine),
                  " ".join(s for _, s in sorted(mine)))
    return out


def test_sentence_segmentation_contract(spark):
    from annotation_service_spark.operators.curation import _doc_sentences
    from pyspark.sql import functions as F  # noqa: F811

    df = spark.createDataFrame(
        [
            (0, "Hi!! Ok. done"),          # glued terminals, tail w/o dot
            (1, "  spaced .  x  "),        # whitespace trim
            (2, "no punctuation at all"),  # one sentence
            (3, "..."),                    # all-terminal: no sentences
        ],
        "doc_id long, text string",
    )
    got: dict[int, list[tuple[int, str]]] = {}
    for r in _doc_sentences(df, "doc_id", "text").collect():
        got.setdefault(r.id, []).append((r.line_no, r.line))
    assert [s for _, s in sorted(got[0])] == ["Hi!!", "Ok.", "done"]
    assert [s for _, s in sorted(got[1])] == ["spaced .", "x"]
    assert [s for _, s in sorted(got[2])] == ["no punctuation at all"]
    assert 3 not in got


def test_sentence_dedup_keep_first_semantics(spark):
    docs = {
        0: "The same pitch. Unique to zero.",
        1: "the   SAME pitch.  Unique to one.",  # norm-dup of doc 0's first
        2: "Twice here. Twice here. And a tail",  # within-doc dup
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r.id: (r.n_sents, r.n_kept, r.clean_text)
        for r in dedup_sentences_keep_first(df).collect()
    }
    assert got == _sent_replay(docs)
    # spot meaning: doc 1 lost its normalized duplicate, doc 2 its
    # second copy
    assert got[1][2] == "Unique to one."
    assert got[2][2] == "Twice here. And a tail"


def test_sentence_dedup_randomized_differential(spark):
    import random

    rnd = random.Random(77)
    vocab = ["red", "blue", "green", "ash", "oak"]
    docs = {}
    for d in range(40):
        parts = []
        for _ in range(rnd.randint(1, 8)):
            n = rnd.randint(1, 3)
            s = " ".join(rnd.choice(vocab) for _ in range(n))
            parts.append(s + rnd.choice([".", "!", "?", ""]))
        docs[d] = " ".join(parts)
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r.id: (r.n_sents, r.n_kept, r.clean_text)
        for r in dedup_sentences_keep_first(df).collect()
    }
    assert got == _sent_replay(docs)


def test_sentence_dedup_paths_agree(spark):
    docs = {i: f"same pitch. own {i} tail." for i in range(12)}
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    _paths_agree(spark, lambda: dedup_sentences_keep_first(df))
    # and the shared sentence survives exactly once, in doc 0
    texts = {r.id: r.clean_text
             for r in dedup_sentences_keep_first(df).collect()}
    assert texts[0].startswith("same pitch.")
    assert all(not texts[i].startswith("same pitch.") for i in range(1, 12))
