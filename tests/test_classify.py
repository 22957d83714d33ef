"""Batch-perceptron contracts (operators/classify.py): learns
separable data, and is bit-deterministic under repartitioning — the
property float classifiers cannot give and the reason the module
exists. Engine parity of the training arithmetic is driver-gated
(`perceptron_filter` vs the unrolled-epoch DuckDB replay)."""

from __future__ import annotations

from pyspark.sql import functions as F

from annotation_service_spark.operators import classify as cf


def _corpus(spark, n=200):
    """Vocab-disjoint two-class corpus: class +1 speaks apple/banana/
    cherry, class -1 speaks delta/echo/foxtrot — linearly separable
    in any hashed-BoW space (bucket collisions only merge counts of
    same-class-dominant words at 64 buckets and 6 words)."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 2 == 0,
            F.concat(
                F.lit("apple banana cherry apple "),
                F.lit("banana cherry apple banana"),
            ),
        )
        .otherwise(F.lit("delta echo foxtrot delta echo foxtrot delta echo"))
        .alias("text"),
        F.when(F.col("id") % 2 == 0, "pos").otherwise("neg").alias("cls"),
    )


def test_perceptron_learns_separable(spark):
    docs = _corpus(spark)
    out = cf.perceptron_scores(
        docs,
        label=F.when(F.col("cls") == "pos", 1).otherwise(-1),
        epochs=3,
    ).collect()
    assert all(r.pred == r.label for r in out)
    assert all(r.score != 0 for r in out)


def test_perceptron_partition_invariant(spark):
    """Integer arithmetic: the trained model and every score are
    identical whether the corpus lives in 1 partition or 32."""
    docs = _corpus(spark, n=150)
    lab = F.when(F.col("cls") == "pos", 1).otherwise(-1)
    one = {
        (r.id, r.score)
        for r in cf.perceptron_scores(docs.repartition(1), lab).collect()
    }
    many = {
        (r.id, r.score)
        for r in cf.perceptron_scores(docs.repartition(32), lab).collect()
    }
    assert one == many


def test_perceptron_single_class_bias(spark):
    """Degenerate all-positive corpus: the bias feature alone must
    carry every prediction to +1."""
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.lit("same words everywhere").alias("text"),
    )
    out = cf.perceptron_scores(docs, label=F.lit(1), epochs=2).collect()
    assert all(r.pred == 1 for r in out)
