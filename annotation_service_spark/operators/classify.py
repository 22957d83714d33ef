"""Model-based corpus filtering: an integer-exact batch perceptron.

LLM data pipelines filter with small linear text classifiers (the
CCNet / GPT-3 / DataComp "quality classifier": hashed bag-of-words →
linear score → keep/drop). Floating-point training is not
engine-portable — summation order changes the model — so this module
re-derives the primitive in EXACT integer arithmetic:

- features: md5-hashed unigram counts over ``n_buckets`` buckets plus
  a constant bias feature — int64, engine-portable (same md5 bucket
  expression the CMS/Bloom sketches use);
- model: the batch perceptron (Rosenblatt's rule applied once per
  epoch to ALL currently-misclassified rows): w ← w + Σ_miss y·x.
  Weights, scores, and margins stay int64 end-to-end, so the trained
  model and every per-document score are bit-identical under ANY
  partitioning / summation order — a DuckDB replay hash-matches.

Spark shape (scales like the k-means twin in operators/clustering.py):
- the feature table is ONE tokenize + groupBy pass, cached for the
  epoch loop;
- each epoch is two map-side-combinable aggregates (per-doc scores,
  then the misclassified-row update vector);
- driver state is the weight vector only — n_buckets+1 ints per
  epoch, independent of corpus size (same bounded-collect precedent
  as kmeans_centroids);
- scoring/inference is a broadcast join of the weight table against
  the feature table — at 100 TB the model rides the task closure and
  the corpus is read once.

The perceptron needs no learning rate, no float loss, and its update
is a pure sum — which is exactly why it is the right exactness
anchor: the float classifier a production pipeline ships can be
validated against this integer regime on planted-separable fixtures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from annotation_service_spark.caching import scoped_cache
from annotation_service_spark.operators.dedup import tokens


def _bucket(col: Column, n_buckets: int, seed: str = "pc") -> Column:
    """First 8 md5 hex chars of 'pc|token' mod n_buckets — matches the
    DuckDB oracle expression CAST('0x'||substr(md5(...),1,8) AS
    BIGINT) % n verbatim."""
    h = F.md5(F.concat(F.lit(f"{seed}|"), col))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets


def hashed_bow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    seed: str = "pc",
) -> DataFrame:
    """Hashed bag-of-words features: (id, b, x) where b ∈ [0,
    n_buckets] (bucket n_buckets is the always-1 bias) and x is the
    int64 token count in that bucket."""
    feat = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .select("id", _bucket(F.col("token"), n_buckets, seed).alias("b"))
        .groupBy("id", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    bias = docs.select(
        F.col(id_col).alias("id"),
        F.lit(n_buckets).cast("long").alias("b"),
        F.lit(1).cast("long").alias("x"),
    )
    return feat.unionByName(bias)


def perceptron_scores(
    docs: DataFrame,
    label: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    epochs: int = 2,
    seed: str = "pc",
) -> DataFrame:
    """Train the batch perceptron for ``epochs`` full passes and score
    every document under the final weights. ``label`` must evaluate to
    +1/-1 (int). Returns (id, label, score, pred) — score is the exact
    int64 margin w·x, pred = +1 iff score > 0 else -1.

    Epoch 0 starts from w = 0, under which every row is misclassified
    (y·0 ≤ 0), so w₁ = Σ_d y_d·x_d — the class-difference centroid;
    later epochs add Σ over the currently-misclassified set only."""
    spark = docs.sparkSession
    feat = scoped_cache(hashed_bow(docs, id_col, text_col, n_buckets, seed))
    lab = docs.select(F.col(id_col).alias("id"), label.cast("long").alias("y"))

    w = {b: 0 for b in range(n_buckets + 1)}

    def w_df():
        return spark.createDataFrame([(b, v) for b, v in w.items()], "b long, w long")

    for epoch in range(epochs):
        if epoch == 0:
            miss = lab  # w = 0: every row has margin 0 => misclassified
        else:
            scores = (
                feat.join(F.broadcast(w_df()), "b")
                .groupBy("id")
                .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
            )
            miss = (
                scores.join(lab, "id")
                .where(F.col("y") * F.col("s") <= 0)
                .select("id", "y")
            )
        delta = (
            feat.join(miss, "id")
            .groupBy("b")
            .agg(F.sum(F.col("x") * F.col("y")).alias("dw"))
            .collect()
        )
        for r in delta:
            w[r["b"]] += r["dw"]

    final = (
        feat.join(F.broadcast(w_df()), "b")
        .groupBy("id")
        .agg(F.sum(F.col("x") * F.col("w")).cast("long").alias("score"))
        .join(lab, "id")
    )
    return final.select(
        "id",
        F.col("y").alias("label"),
        "score",
        F.when(F.col("score") > 0, 1).otherwise(-1).cast("long").alias("pred"),
    )
