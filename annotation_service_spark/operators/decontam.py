"""Benchmark decontamination: flag corpus documents that share n-gram
shingles with an evaluation/benchmark set.

Training-data hygiene requires removing (or at least flagging) corpus
documents that overlap the benchmarks the model will be scored on —
the standard approach (GPT-3 appendix C, PaLM §7, Llama) is n-gram
collision against the benchmark text.

Spark shape, designed for the 100 TB asymmetry:
- the CORPUS is huge; the BENCHMARK set is tiny (MBs). Benchmark
  shingles are therefore broadcast — the corpus never shuffles for
  the membership probe.
- ONE aggregation computes both the per-doc shingle total and the
  hit count (the broadcast join is a left join carrying a hit
  marker), so the whole operator is: corpus scan -> shingle explode
  -> broadcast probe -> one map-side-combinable groupBy on doc id.
- the broadcast hint is unconditional: a benchmark set whose
  distinct shingles do not fit one broadcast is outside this
  operator's contract.

The reference has no decontamination surface; this is a
beyond-reference training-pipeline operator, oracle-checked against
DuckDB (same md5-free pure-string shingles, exact counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import scoped_cache
from .dedup import shingle_table


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Per corpus document: distinct-shingle total, how many of those
    shingles appear anywhere in the benchmark set, the contaminated
    fraction, and a flag at ``hit_frac >= threshold``.

    Returns (doc_id, n_shingles, n_hits, hit_frac, contaminated),
    one row per corpus doc with at least one shingle. A composite
    pipeline that caches the corpus shingle table (``scoped_cache``)
    tokenizes the corpus once: Spark matches this plan's identical
    shingle subtree to that cache.
    """
    bsh = F.broadcast(
        shingle_table(benchmark, id_col, text_col, ngram)
        .select("s")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        shingle_table(corpus, id_col, text_col, ngram)
        .join(bsh, "s", "left")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_hits"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_shingles")).alias(
                "hit_frac"
            ),
            (
                F.col("n_hits").cast("double") / F.col("n_shingles")
                >= F.lit(threshold)
            ).alias("contaminated"),
        )
    )


def embedding_contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin
    of ``contamination_check``: a corpus vector is contaminated when
    its cosine to ANY benchmark vector reaches ``threshold`` (catches
    paraphrases and translations the n-gram probe misses). Returns
    (id, n_hits, max_cos, contaminated) per corpus vector.

    Scale: the benchmark set is small by construction (eval suites
    are thousands of rows), so it BROADCASTS and the corpus streams
    through one scan — no shuffle, no self-join; the cosine is the
    ANN family's dim-unrolled codegen expression rounded to 1e-6
    (oracle-portable). For benchmark sets too big to broadcast, fall
    back to lsh_candidates between the two sides (same probed band
    machinery) + this verify on the candidate pairs.
    """
    from .similarity import _vec_dim, as_double, dot
    from annotation_service_spark.partitioning import spread_underparallel

    dim = _vec_dim(corpus, vec_col)
    # r14 (guide §2.5): the per-pair cosine expressions above the
    # broadcast cross join are pinned to the corpus scan's task count
    # (A/B: 0.42x with the spread on a one-row-group input)
    corpus = spread_underparallel(corpus)
    c = corpus.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("ce")
    ).withColumn("cn", F.sqrt(dot("ce", "ce", dim)))
    b = benchmark.select(
        F.col(id_col).alias("bid"), as_double(F.col(vec_col)).alias("be")
    ).withColumn("bn", F.sqrt(dot("be", "be", dim)))
    scored = c.crossJoin(F.broadcast(b)).select(
        "id",
        F.round(
            dot("ce", "be", dim) / (F.col("cn") * F.col("bn")), round_digits
        ).alias("cos"),
    )
    return scored.groupBy("id").agg(
        F.sum(F.when(F.col("cos") >= threshold, 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        F.max("cos").alias("max_cos"),
        (F.max("cos") >= F.lit(threshold)).alias("contaminated"),
    )


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    pad: int = 2,
) -> DataFrame:
    """SURGICAL decontamination: instead of dropping a contaminated
    document wholesale (contamination_check's regime), remove only
    the token spans covered by benchmark-colliding n-grams — each hit
    at token position p masks [p - pad, p + ngram - 1 + pad],
    overlapping masks merged — and keep the rest of the document.
    This is the removal style production pipelines actually apply
    (GPT-3 appendix C removes a window around the collision, not the
    document), preserving the uncontaminated bulk of long documents.

    Returns one row per corpus doc with >= 1 token:
    (doc_id, n_tokens, n_removed, n_spans, clean_md5) where clean_md5
    hashes the kept tokens joined by single spaces (token-normalized
    — reconstruction of original whitespace is out of scope) — docs
    fully masked hash the empty string.

    Scale shape: benchmark shingles BROADCAST (tiny by construction);
    the corpus token/gram relations shuffle once keyed by doc id for
    the window passes; mask merging is the classic gaps-and-islands
    (running-max window) per doc; the coverage join is equi on doc id
    with a BETWEEN residual against the doc's few merged spans. No
    self-joins, nothing driver-side."""
    from pyspark.sql import Window

    from .dedup import shingle_table, token_grams, tokens

    # The token fan-out feeds two plan legs (gram builder + coverage
    # join); caching it was measured ~par cold (a corpus-token-sized
    # cache write buys back only one regex pass) — the legs re-split
    # instead, and only the TINY merged-span table below is cached.
    tok = corpus.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    grams = token_grams(tok, ngram)
    bsh = F.broadcast(
        shingle_table(benchmark, id_col, text_col, ngram)
        .select("s")
        .distinct()
    )
    spans = grams.join(bsh, "s").select(
        "id",
        F.greatest(F.col("pos") - pad, F.lit(0)).alias("lo"),
        (F.col("pos") + (ngram - 1) + pad).alias("hi"),
    )
    # gaps-and-islands merge: a span starts a new island when its lo
    # clears every previous hi (running max over the (lo, hi) order)
    w_ord = Window.partitionBy("id").orderBy("lo", "hi")
    prev_max_hi = F.max("hi").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_max_hi.isNull() | (F.col("lo") > prev_max_hi), 1
    ).otherwise(0)
    grp = F.sum(brk).over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    # r13 (guide §5): merged is TINY (∝ contaminated spans, not corpus
    # bytes) but feeds two legs (n_spans and the coverage join build
    # side) — uncached, each leg replayed the whole
    # tokenize→gram→broadcast-join→two-window pipeline (measured:
    # 16 Window nodes / 10 corpus scans in the gate's plan).
    merged = scoped_cache(
        spans.withColumn("grp", grp)
        .groupBy("id", "grp")
        .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi")),
    )
    n_spans = merged.groupBy("id").agg(F.count(F.lit(1)).alias("n_spans"))
    # rename the span side's key before the non-equi join: both sides
    # descend from `corpus`, so unrenamed columns trip Spark's
    # ambiguous-self-join analysis
    mspans = merged.select(F.col("id").alias("mid"), "lo", "hi")
    cov = tok.join(
        mspans,
        on=[
            F.col("id") == F.col("mid"),
            F.col("pos").between(F.col("lo"), F.col("hi")),
        ],
        how="left",
    ).select("id", "pos", "tok", F.col("lo").isNotNull().alias("covered"))
    kept_sorted = F.array_sort(
        F.collect_list(F.struct("pos", "covered", "tok"))
    )
    clean = F.concat_ws(
        " ",
        F.transform(
            F.filter(kept_sorted, lambda x: ~x["covered"]),
            lambda x: x["tok"],
        ),
    )
    out = cov.groupBy(F.col("id")).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("covered"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.md5(clean).alias("clean_md5"),
    )
    return (
        out.join(n_spans, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_removed",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            "clean_md5",
        )
    )
