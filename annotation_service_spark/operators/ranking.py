"""BM25 full-text relevance ranking over the document corpus.

The reference has no search/ranking surface (its retrieval ends at
exact key lookup); this is the IR-class operator a training-data
pipeline needs for query-driven corpus slicing (e.g. "pull the docs
most relevant to these probe queries" for targeted decontamination or
eval-set curation). It composes with the inverted index
(``posting_lists`` gate) the repo already builds: the index answers
WHICH docs contain a term, BM25 ranks HOW relevant they are.

Algorithm (classic two-pass BM25, Robertson/Sparck-Jones weights with
the Lucene non-negative idf):

  pass 1 (stats):  N, total_dl, df_t for each query term — one
                   ``df.agg`` whose map-side partials reduce every
                   partition to a single row; only ~|Q|+2 scalars
                   reach the driver.
  pass 2 (score):  per-row expression using the pass-1 scalars as
                   LITERALS: no join, no shuffle, no Python — the
                   corpus is scanned, scored, and filtered in place.

  score(d) = Σ_t idf_t · tf_td·(k1+1) / (tf_td + k1·(1−b+b·dl_d/avgdl))
  idf_t    = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))

Scale design (100 TB):
- tf per query term is ``size(filter(tokens, = term))`` — a codegen
  expression over the already-needed token array, NOT an
  explode+groupBy; the per-term cost is O(dl) with zero shuffle.
- the only shuffles are the 1-row stats agg and (optionally) the
  global top-n sort, both reductions.
- |Q| is the number of USER query terms (a handful); the expression
  width is O(|Q|), independent of corpus size.

Cross-engine determinism: idf_t, avgdl, and (1−b) are computed
driver-side in Python doubles and embedded as shortest-round-trip
literals in BOTH the Spark plan and the DuckDB oracle, so each engine
performs the identical sequence of correctly-rounded double ops on
identical inputs — the rounded score is bit-identical by construction,
not by luck (same technique as the k-means centroid literals,
``__spark_entry__._kmeans_oracle``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from annotation_service_spark.operators.dedup import tokens

SCORE_SCALE = 1_000_000


def _term_count(toks: Column, term: str) -> Column:
    """size(filter(tokens, = term)) — the no-explode tf expression.
    (A closure, not a default-arg lambda: PySpark treats a 2-param
    lambda as the (element, index) HOF form.)"""
    return F.size(F.filter(toks, lambda w: w == F.lit(term)))


def bm25_stats(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
) -> dict:
    """Pass 1: corpus statistics for the given query terms.
    Returns {"n": N, "avgdl": float, "df": {term: df}} from one
    single-row aggregation."""
    toks = tokens(F.col(text_col))
    tf_cols = [
        _term_count(toks, t).alias(f"_tf{i}")
        for i, t in enumerate(query_terms)
    ]
    base = docs.select(F.size(toks).alias("_dl"), *tf_cols)
    row = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_dl").alias("tot"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    ).first()
    return {
        "n": int(row.n),
        "avgdl": float(row.tot) / float(row.n),
        "df": {t: int(row[f"df{i}"]) for i, t in enumerate(query_terms)},
    }


def bm25_idf(n: int, df: int) -> float:
    """Lucene-style non-negative idf."""
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def _score_expr(
    query_terms: list[str],
    stats: dict,
    k1: float,
    b: float,
    text_col: str,
) -> Column:
    """The pass-2 scoring expression. Literal placement and
    association order MIRROR ``bm25_oracle_select`` exactly — change
    one, change both."""
    toks = tokens(F.col(text_col))
    dl = F.size(toks).cast("double")
    one_minus_b = 1.0 - b
    score = None
    for t in query_terms:
        idf = bm25_idf(stats["n"], stats["df"][t])
        tf = _term_count(toks, t).cast("double")
        term = (F.lit(idf) * (tf * F.lit(k1 + 1.0))) / (
            tf
            + F.lit(k1)
            * (F.lit(one_minus_b) + F.lit(b) * (dl / F.lit(stats["avgdl"])))
        )
        score = term if score is None else score + term
    return score


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int | None = None,
) -> DataFrame:
    """Score every document containing ≥1 query term. Output:
    (doc_id, bm25_micro) where bm25_micro = floor(1e6·score) — the
    fixed-point form both engines agree on bit-for-bit. With
    ``top_n``, keeps the n best by (bm25_micro desc, id) — ordering
    on the ROUNDED score so the cut is engine-independent."""
    stats = bm25_stats(docs, query_terms, text_col)
    score = _score_expr(query_terms, stats, k1, b, text_col)
    out = (
        docs.select(
            F.col(id_col),
            F.floor(score * F.lit(float(SCORE_SCALE)))
            .cast("long")
            .alias("bm25_micro"),
        )
        .where(F.col("bm25_micro") > 0)
    )
    if top_n is not None:
        out = out.orderBy(
            F.col("bm25_micro").desc(), F.col(id_col)
        ).limit(top_n)
    return out


_BM25_REF_MEMO: dict[tuple, dict] = {}


def bm25_stats_reference(
    path: str, query_terms: list[str], text_col: str = "text"
) -> dict:
    """Sequential pure-Python replica of ``bm25_stats`` reading the
    parquet directly (pyarrow + ``re``) — an INDEPENDENT tokenizer
    and reduction used to derive the oracle's literals. If Spark's
    distributed stats diverge by even one count, the embedded idf
    and avgdl literals differ and the gate's scores mismatch — so
    the gate pins pass 1 as well as pass 2. The floats (avgdl
    division, ``math.log`` idf) are computed by the same interpreter
    in both generators, so equal ints ⇒ bit-equal literals."""
    import re

    key = (path, tuple(query_terms), text_col)
    if key not in _BM25_REF_MEMO:
        import pyarrow.parquet as pq

        col = pq.read_table(path, columns=[text_col])[text_col]
        n = 0
        tot = 0
        df = {t: 0 for t in query_terms}
        for v in col:
            toks = [
                w
                for w in re.split(r"[^a-z0-9]+", (v.as_py() or "").lower())
                if w
            ]
            n += 1
            tot += len(toks)
            present = set(toks)
            for t in query_terms:
                if t in present:
                    df[t] += 1
        _BM25_REF_MEMO[key] = {
            "n": n,
            "avgdl": float(tot) / float(n),
            "df": df,
        }
    return _BM25_REF_MEMO[key]


def bm25_oracle_select(
    query_terms: list[str],
    stats: dict,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB replay of ``bm25_score`` (no top_n) with the SAME
    driver-computed literals — used by the oracle gate. ``repr`` of a
    Python float is the shortest decimal that round-trips, so DuckDB
    parses the bit-identical double."""
    toks = (
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
        " x -> x <> '')"
    )
    terms_sql = []
    for t in query_terms:
        idf = bm25_idf(stats["n"], stats["df"][t])
        tf = f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        terms_sql.append(
            f"({idf!r} * ({tf} * {k1 + 1.0!r})) / ({tf} + {k1!r} * "
            f"({1.0 - b!r} + {b!r} * (dl / {stats['avgdl']!r})))"
        )
    score = " + ".join(terms_sql)
    return f"""
        WITH t AS (
            SELECT doc_id, {toks} AS toks FROM documents
        ), s AS (
            SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks FROM t
        )
        SELECT doc_id,
               CAST(floor(({score}) * {float(SCORE_SCALE)!r}) AS BIGINT)
                   AS bm25_micro
        FROM s
        WHERE CAST(floor(({score}) * {float(SCORE_SCALE)!r}) AS BIGINT) > 0
    """


def tfidf_shingle_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int = 1000,
    min_sim: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Sparse all-pairs cosine similarity over tf-idf-weighted word
    n-gram shingles — text near-duplicate/plagiarism detection WITHOUT
    embeddings, via a posting-list self-join (the Bayardo et al.
    all-pairs-similarity shape, public WWW'07 algorithm).

    Semantics: each doc is the sparse vector of its n-gram shingles
    with weight tf·idf, idf = ln((N+1)/(df+1)) + 1, restricted to
    shingles with df ≤ ``max_df`` (common-term pruning — both a
    denoiser and THE scale bound). Emits (doc_a, doc_b, sim) for
    doc_a < doc_b with rounded cosine ≥ ``min_sim``.

    Scale design (100 TB):
    - the candidate join is an equi-join on the shingle string —
      content-hashed keys, uniform by construction;
    - ``max_df`` caps every posting list, so worst-case pairs per
      shingle ≤ max_df² and total candidates ∝ corpus × avg_df, never
      |docs|²;
    - shingles with df = 1 are skipped in the join (they cannot form
      a pair) but DO count toward norms, so the cosine is exact for
      the df ≤ max_df vector space;
    - everything is built-in expressions: explode → two groupBys
      (doc-, then term-keyed) → join → pair groupBy.
    """
    from annotation_service_spark.functions.text import round_fixed
    from annotation_service_spark.operators.dedup import shingle_table

    # occurrence-level shingles via posexplode + window leads — NOT
    # explode(word_ngrams(...)), whose generator re-evaluates the
    # interpreted HOF child per emitted row (O(n_grams^2) per doc; see
    # token_grams' docstring — 3x on the gate corpus)
    sh = shingle_table(docs, id_col, text_col, n, distinct=False)
    tf = sh.groupBy("id", "s").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = (
        tf.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "s",
            "df",
            (
                F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                + F.lit(1.0)
            ).alias("idf"),
        )
    )
    # materialize the weight postings ONCE: norms, and both sides of
    # the pair join, consume this table — without truncation the
    # shingle explode + two groupBys re-execute for every consumer
    # (measured 2.5x on the gate corpus). Same build-once pattern as
    # the PageRank adjacency (operators/graph.py).
    w = (
        tf.join(dfreq, "s")
        .select("id", "s", "df", (F.col("tf") * F.col("idf")).alias("w"))
        .localCheckpoint(eager=False)
    )
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    pairable = w.where(F.col("df") >= 2).select("id", "s", "w")
    a = pairable.select(
        F.col("id").alias("doc_a"), "s", F.col("w").alias("wa")
    )
    b = pairable.select(
        F.col("id").alias("doc_b"), "s", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    return (
        dots.join(norms.select(F.col("id").alias("doc_a"), F.col("nrm").alias("na")), "doc_a")
        .join(norms.select(F.col("id").alias("doc_b"), F.col("nrm").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round_fixed(
                F.col("dot") / (F.col("na") * F.col("nb")), round_digits
            ).alias("sim"),
        )
        .where(F.col("sim") >= min_sim)
    )
