"""Training-data curation operators: sample packing + stratified
sampling (beyond-reference LLM-pipeline surface, SURVEY §2 extension).

Three ops a pretraining data pipeline runs after dedup/quality
filtering:

- ``concat_chunk_map``: GPT-style packing — conceptually concatenate
  the corpus (in a deterministic order) and cut fixed ``block_size``
  token blocks; each document maps to the block span it lands in.
  Pure window cumsum: one shuffle by partition key, no UDF, and the
  map is what a downstream tokenizer/writer needs to emit packed
  blocks. Fully oracle-checkable.
- ``greedy_pack``: classic greedy fixed-capacity bin packing (no
  document splitting — each doc goes whole into the current bin or
  opens a new one). Inherently sequential PER GROUP, so it runs as
  one Arrow batch per partition group (applyInPandas) and scales by
  packing many groups/shards concurrently — which is how packing is
  sharded in practice.
- ``stratified_sample``: deterministic hash-threshold sampling with
  per-stratum rates (data mixing). ``md5(id)``-based so it is
  reproducible across engines and runs — no RNG state, no
  sample()-nondeterminism; exactly the content-hash trick the dedup
  family uses (operators/dedup.py).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from annotation_service_spark.caching import scoped_cache


def concat_chunk_map(
    docs: DataFrame,
    block_size: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Map each document to its packed-block span: documents are laid
    end-to-end in ``id_col`` order within each partition group and cut
    into ``block_size``-token blocks. Returns the input keys plus
    ``start_off`` (token offset of the doc), ``first_block`` /
    ``last_block`` (0-based block ids the doc spans).

    Scale: one window per partition group (the shuffle is by the
    group key; groups are independent corpus shards). Empty docs
    (0 tokens) occupy no span and map to the block of their offset.

    With no ``partition_by`` (one global concatenation order) the
    cumsum is a ``_range_sharded`` scan on ``id_col``: identical
    output, no SinglePartition exchange in the plan.
    """
    part = list(partition_by)
    if not part:
        return _concat_chunk_global(docs, block_size, token_col, id_col)
    w = Window.partitionBy(*part).orderBy(id_col)
    end = F.sum(token_col).over(w)
    first = F.floor((end - F.col(token_col)) / block_size)
    last = F.when(
        F.col(token_col) > 0, F.floor((end - 1) / block_size)
    ).otherwise(first)
    return docs.select(
        *part,
        id_col,
        token_col,
        (end - F.col(token_col)).alias("start_off"),
        first.cast("long").alias("first_block"),
        last.cast("long").alias("last_block"),
    )


def _range_shard_bounds(docs: DataFrame, id_col: str, n_shards: int) -> list:
    """Range-shard boundaries over ``id_col`` for ANY orderable id
    type. Numeric ids use approxQuantile (one sketch pass); other
    types (string/date doc ids) use sample-based boundaries — the
    RangePartitioner approach — since approxQuantile is
    numeric-only. Correctness never depends on the boundary VALUES:
    shard(r) = #bounds < id(r) is contiguous in id order for any
    bound set; the sample only controls shard balance."""
    from pyspark.sql.types import NumericType

    if isinstance(docs.schema[id_col].dataType, NumericType):
        qs = [i / n_shards for i in range(1, n_shards)]
        return sorted(set(docs.approxQuantile(id_col, qs, 0.001)))
    cap = 200 * n_shards
    sample = [
        r[0]
        for r in docs.select(id_col)
        .where(F.col(id_col).isNotNull())
        .sample(fraction=0.01, seed=7)
        .limit(cap)
        .collect()
    ]
    if len(sample) < n_shards:  # tiny input: sampling too sparse
        sample = [
            r[0]
            for r in docs.select(id_col)
            .where(F.col(id_col).isNotNull())
            .limit(cap)
            .collect()
        ]
    sample.sort()
    step = max(1, len(sample) // n_shards)
    return sorted(set(sample[step::step][: n_shards - 1]))


# Bound on the per-(group, shard) offset table a sharded scan collects:
# a high-cardinality group column (user ids, URLs) fails loudly at the
# driver instead of being collected silently (the bounded-collect
# contract of the vocab/centroid paths).
_MAX_OFFSET_ROWS = 100_000


def _range_sharded(
    src: DataFrame,
    key: str,
    weight: str | None,
    by: Sequence[str] = (),
    n_shards: int | None = None,
) -> DataFrame:
    """The two-phase distributed scan: ``src`` plus ``__shard`` and
    ``__off``, so that a window over ``(*by, "__shard")`` in ``key``
    order adds the shard-local prefix to ``__off`` and gives the exact
    global prefix per ``by`` group, with no single-partition window.

    Phase 1 range-shards rows on ``key``: ``__shard`` counts the
    sampled bounds below the row's key, so each shard holds a
    contiguous key range whatever the bounds (they only set the
    balance). Phase 2 collects the per-(``by``, shard) totals of
    ``weight`` (rows when None; at most ``_MAX_OFFSET_ROWS`` rows) and
    broadcasts back ``__off``, the total of the group's earlier
    shards."""
    spark = src.sparkSession
    if n_shards is None:
        n_shards = max(2, spark.sparkContext.defaultParallelism)
    shard = F.lit(0)
    for b in _range_shard_bounds(src, key, n_shards):
        shard = shard + F.when(F.col(key) > F.lit(b), 1).otherwise(0)
    src = src.withColumn("__shard", shard.cast("int"))
    keys = [*by, "__shard"]
    total = F.count(F.lit(1)) if weight is None else F.sum(weight)
    totals = (
        src.groupBy(*keys)
        .agg(total.alias("n"))
        .limit(_MAX_OFFSET_ROWS + 1)
        .collect()
    )
    if len(totals) > _MAX_OFFSET_ROWS:
        raise ValueError(
            f"offset table exceeds {_MAX_OFFSET_ROWS} rows (distinct "
            f"{list(by)} x n_shards={n_shards}); a group column this wide "
            "is not a mixture spec"
        )
    offsets, acc = [], {}
    for r in sorted(totals, key=lambda r: ([str(r[c]) for c in by], r["__shard"])):
        g = tuple(r[c] for c in by)
        offsets.append((*g, r["__shard"], acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + (r["n"] or 0)
    schema = T.StructType(
        [T.StructField(c, src.schema[c].dataType) for c in by]
        + [
            T.StructField("__shard", T.IntegerType()),
            T.StructField("__off", T.LongType()),
        ]
    )
    return src.join(F.broadcast(spark.createDataFrame(offsets, schema)), keys)


def _concat_chunk_global(
    docs: DataFrame,
    block_size: int,
    token_col: str,
    id_col: str,
) -> DataFrame:
    """Global prefix sum of ``token_col`` over ``id_col`` order, as a
    ``_range_sharded`` scan."""
    src = _range_sharded(docs.select(id_col, token_col), id_col, token_col)
    w = Window.partitionBy("__shard").orderBy(id_col)
    end = F.col("__off") + F.sum(token_col).over(w)
    first = F.floor((end - F.col(token_col)) / block_size)
    last = F.when(
        F.col(token_col) > 0, F.floor((end - 1) / block_size)
    ).otherwise(first)
    return src.select(
        id_col,
        token_col,
        (end - F.col(token_col)).alias("start_off"),
        first.cast("long").alias("first_block"),
        last.cast("long").alias("last_block"),
    )


def greedy_pack(
    docs: DataFrame,
    capacity: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Greedy whole-document bin packing: walk documents in
    ``id_col`` order; a doc that would overflow the open bin closes
    it and opens the next (an oversize doc > capacity gets a bin of
    its own). Returns input keys + ``bin_id`` (0-based per group).

    The walk is sequential per group (the decision depends on the
    running remainder, which no fixed window can express), so each
    group packs as one vectorized-ish Arrow batch and groups pack in
    parallel — shard your corpus into groups sized for one task."""
    part = list(partition_by)
    out_fields = [docs.schema[c] for c in part] + [
        docs.schema[id_col],
        docs.schema[token_col],
        T.StructField("bin_id", T.LongType()),
    ]
    out_schema = T.StructType(out_fields)
    cols = part + [id_col, token_col]

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        bins = []
        cur = 0
        bin_id = 0
        for t in pdf[token_col].astype("int64"):
            if cur > 0 and cur + t > capacity:
                bin_id += 1
                cur = 0
            cur += int(t)
            bins.append(bin_id)
        pdf = pdf[cols].copy()
        pdf["bin_id"] = bins
        return pdf

    src = docs.select(*cols)
    if part:
        return src.groupBy(*part).applyInPandas(pack, out_schema)
    return src.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(
        lambda pdf: pack(pdf.drop(columns="__g")), out_schema
    )


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.5,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Temperature-based source rebalancing: keep rows so the sampled
    mix follows p_s^alpha (alpha<1 flattens toward uniform — the
    multilingual/multi-source reweighting of mT5/XLM-R and most
    pretraining recipes). Downsample-only: per-stratum keep rate
    r_s = (n_s/n_min)^(alpha-1), so the SMALLEST source keeps
    everything and larger sources are thinned toward the target
    exponent. Rates come from the data itself (one tiny groupBy);
    the coin is the deterministic md5 hash (``sample_hash``), so the
    sample is reproducible across engines and runs.

    Cross-engine float note: for alpha=0.5 the rate is computed as
    sqrt(n_min/n_s) — division and sqrt are IEEE correctly-rounded,
    so the floored threshold is bit-identical in any engine (pow()
    carries no such guarantee; it is used only for other alphas).

    Scale: the rate table is one row per stratum (broadcast); the
    corpus is filtered in place — zero corpus shuffles.
    """
    counts = docs.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n"))
    counts = counts.crossJoin(F.broadcast(counts.agg(F.min("_n").alias("_min"))))
    if abs(alpha - 0.5) < 1e-12:
        rate = F.sqrt(F.col("_min").cast("double") / F.col("_n"))
    else:
        rate = F.pow(
            F.col("_n").cast("double") / F.col("_min"), F.lit(alpha - 1.0)
        )
    rates = counts.select(
        stratum_col, F.floor(rate * 10000).cast("long").alias("_thr")
    )
    return (
        docs.join(F.broadcast(rates), stratum_col)
        .where(sample_hash(F.col(id_col), salt) < F.col("_thr"))
        .drop("_thr")
    )


def sample_hash(id_col: F.Column, salt: str = "") -> F.Column:
    """Deterministic [0, 10000) bucket from md5(salt|id) — the
    engine-portable sampling coin (first 8 hex chars as an int)."""
    h = F.md5(F.concat(F.lit(salt), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 10000


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Keep each row with its stratum's probability, decided by the
    deterministic hash coin — reproducible mixing weights for
    training-data recipes. ``rates`` maps stratum value → keep rate
    in [0, 1]; unlisted strata use ``default_rate``."""
    thr = F.lit(int(default_rate * 10000))
    expr = None
    for k, v in sorted(rates.items()):
        cond = F.col(stratum_col) == k
        t = F.lit(int(v * 10000))
        expr = F.when(cond, t) if expr is None else expr.when(cond, t)
    thr = expr.otherwise(thr) if expr is not None else thr
    return docs.where(sample_hash(F.col(id_col), salt) < thr)


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Fixed-size weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row gets key = ln(u)/w with u a
    deterministic uniform from md5(salt|id), and the k largest keys
    win — P(selection) proportional to weight, exactly the reservoir
    scheme, but expressed as a global top-k so it distributes
    (ln(u)/w is a monotone transform of the classic u^(1/w) and
    avoids pow's poor cross-engine rounding).

    Scale: the key is a per-row expression (no shuffle); the top-k is
    Spark's TakeOrderedAndProject — per-partition heaps of size k,
    then a k-row merge on the driver. No full sort, no corpus
    shuffle. Deterministic: no RNG state, reruns and engines agree
    (u has 60 bits from the md5, +1 offset keeps it in (0,1]).

    Weights must be > 0; ties broken by id. Output: (id, weight) of
    the selected rows.
    """
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            + F.lit(1)
        ).cast("double")
        / F.lit(float(2**60))
    )
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        docs.select(F.col(id_col), F.col(weight_col), key.alias("_key"))
        .orderBy(F.col("_key").desc(), F.col(id_col))
        .limit(k)
        .drop("_key")
    )


def group_split(
    docs: DataFrame,
    group_key,
    splits: Sequence[tuple[str, float]] = (("train", 0.9), ("val", 0.1)),
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Leakage-guarded train/val split: the hash coin is thrown on a
    GROUP key (e.g. the exact-dup content hash or a near-dup cluster
    id), so every member of a duplicate group lands in the same
    split — the guard that keeps eval leakage out of held-out sets
    when the corpus still contains dup families.

    ``splits`` is an ordered (name, fraction) list partitioning
    [0, 1); assignment is by cumulative hash-bucket thresholds of
    md5(salt|group_key) — deterministic, engine-portable, and
    independent of row order. Pure expression: zero shuffles.

    Output: input rows + (split_group, split) columns.
    """
    g = group_key if isinstance(group_key, F.Column) else F.col(group_key)
    bucket = sample_hash(g, salt)
    expr = None
    acc = 0.0
    for name, frac in splits:
        acc += frac
        thr = F.lit(int(round(acc * 10000)))
        expr = (
            F.when(bucket < thr, F.lit(name))
            if expr is None
            else expr.when(bucket < thr, F.lit(name))
        )
    expr = expr.otherwise(F.lit(None).cast("string"))
    return docs.select(
        "*", g.alias("split_group"), expr.alias("split")
    )


def weighted_sample_per_stratum(
    docs: DataFrame,
    k: int,
    weight_col: str,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Fixed-k weighted sampling WITHOUT replacement PER STRATUM —
    the per-language/per-source quota shape of multilingual curation
    ("best k docs from every source, weight-proportional"). Same
    A-ES key as ``weighted_sample`` (ln(u)/w on the deterministic
    md5 uniform), selected with a row_number window per stratum
    instead of a global top-k.

    Scale: one shuffle keyed by stratum. Stratum skew is bounded by
    the window's top-k short-circuit (rank computation streams; only
    k rows per stratum survive), but a single colossal stratum still
    serializes its ordered scan — for that shape, pre-filter with a
    cheap per-stratum threshold pass or fall back to the global form
    per stratum. Output: (id, stratum, weight) of the selected rows.
    """
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            + F.lit(1)
        ).cast("double")
        / F.lit(float(2**60))
    )
    key = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(stratum_col).orderBy(
        F.col("_key").desc(), F.col(id_col)
    )
    return (
        docs.select(
            F.col(id_col), F.col(stratum_col), F.col(weight_col),
            key.alias("_key"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_key", "_rn")
    )


def chunk_spans(
    docs: DataFrame,
    chunk_size: int = 200,
    overlap: int = 50,
    id_col: str = "doc_id",
    len_col: str = "n_chars",
) -> DataFrame:
    """Sliding-window chunk spans with overlap — the RAG/pretraining
    chunker's INDEX: one row per (doc, chunk) with [chunk_start,
    chunk_end) offsets, where chunk i starts at i·(chunk_size−overlap)
    and n_chunks = max(1, ceil((len−overlap)/stride)), so consecutive
    chunks share ``overlap`` units and the final chunk is clipped to
    the doc length. Pure sequence+explode row expressions — zero
    shuffles, zero UDFs; the span math is INTEGER on both engines
    (ceil via (a+b−1) div b) so the gate is exact, not rounded."""
    stride = chunk_size - overlap
    if stride <= 0:
        raise ValueError("chunk_size must exceed overlap")
    n = F.greatest(
        F.lit(1).cast("long"),
        F.expr(f"({len_col} - {overlap} + {stride - 1}) div {stride}").cast(
            "long"
        ),
    )
    return (
        docs.select(id_col, F.col(len_col), n.alias("__n"))
        .select(
            id_col,
            len_col,
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n") - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * stride).cast("long").alias("chunk_start"),
            F.least(
                F.col("chunk_idx") * stride + chunk_size, F.col(len_col)
            )
            .cast("long")
            .alias("chunk_end"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every raw document by how target-like its hashed n-gram
    feature counts are. Features are word unigrams + bigrams hashed
    into ``n_buckets`` buckets (md5-based, engine-portable — the
    dedup family's hashing); bucket distributions are estimated with
    add-alpha smoothing over the TARGET subset (``target_filter``)
    and the full RAW corpus, and

        logw(doc) = Σ_buckets c_doc(b) · [ln p̂_target(b) − ln p̂_raw(b)]

    rounded to 1e-6 (the unigram_nll convention — ln is the one
    non-correctly-rounded primitive; rounding a per-doc sum absorbs
    engine ulps). Returns (id, n_feats, logw).

    Scale shape: tokenize/hash is a stateless projection; the two
    bucket histograms are map-side-combinable groupBys on a key
    space bounded by ``n_buckets``; the per-bucket log-ratio table
    (≤ n_buckets rows) broadcasts back into one per-doc aggregation.
    The corpus streams twice, nothing collects to the driver, no
    join key exceeds n_buckets cardinality."""
    from annotation_service_spark.operators.dedup import tokens
    from annotation_service_spark.functions.text import round_fixed

    # unigrams via one posexplode, bigrams via lead() over the token
    # positions: the window shuffle keys by doc id, so gram
    # construction parallelizes across the cluster instead of running
    # the interpreted slice/array_join HOF per row inside the scan
    # task (measured 8.1 s → 1.5 s for the bigram stream at sf0.1;
    # same gram multiset, order irrelevant under the groupBy)
    text = F.col(text_col)
    tok = docs.select(
        F.col(id_col).alias("id"),
        target_filter.alias("is_target"),
        F.posexplode(tokens(text)).alias("p", "g1"),
    )
    wnd = Window.partitionBy("id").orderBy("p")
    pair = tok.select(
        "id",
        "is_target",
        "g1",
        F.concat("g1", F.lit(" "), F.lead("g1").over(wnd)).alias("g2"),
    )
    feats = pair.select(
        "id",
        "is_target",
        F.explode(F.array("g1", "g2")).alias("g"),
    ).where(F.col("g").isNotNull()).select(
        "id",
        "is_target",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("ds|"), F.col("g"))), 1, 10), 16, 10)
            .cast("long")
            % n_buckets
        ).alias("b"),
    )
    # cached: the histogram (raw + target), totals, and the final
    # per-doc aggregation all consume this table — uncached, each of
    # the ~6 downstream jobs re-runs the full tokenize + bigram
    # explode over the corpus (measured 16 s → 3 s at sf0.1). Size is
    # ≤ Σ per-doc distinct buckets (one count per (doc, bucket)),
    # far below the exploded gram stream it replaces.
    doc_feats = scoped_cache(
        feats.groupBy("id", "b").agg(
            F.count(F.lit(1)).alias("c"), F.first("is_target").alias("is_target")
        ),
    )
    raw = doc_feats.groupBy("b").agg(F.sum("c").alias("rc"))
    tgt = (
        doc_feats.where("is_target")
        .groupBy("b")
        .agg(F.sum("c").alias("tc"))
    )
    totals = (
        raw.agg(F.sum("rc").cast("double").alias("R"))
        .crossJoin(tgt.agg(F.sum("tc").cast("double").alias("T")))
    )
    ratio = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("tc"), F.lit(0)) + alpha) / (F.col("T") + alpha * n_buckets))
                - F.log((F.col("rc") + alpha) / (F.col("R") + alpha * n_buckets))
            ).alias("lr"),
        )
    )
    return (
        doc_feats.join(F.broadcast(ratio), "b")
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            round_fixed(F.sum(F.col("c") * F.col("lr")), 6).alias("logw"),
        )
    )


def dsir_resample(
    docs: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    frac: float = 0.2,
) -> DataFrame:
    """DSIR resampling on top of ``dsir_weights``: Gumbel-top-m
    (sampling without replacement ∝ exp(logw)) with DETERMINISTIC
    Gumbel noise g = −ln(−ln u), u ∈ (0,1) from md5(id) — the
    repo-wide no-RNG convention, reproducible across engines and
    runs. A document is ``selected`` when its perturbed score
    logw + g clears the corpus's (1−frac) percentile.

    The threshold is an EXACT percentile (single bounded reduce over
    one double per doc — fine at gate scale; at 100 TB swap in
    approx_percentile, t-digest map-side combinable, and keep this
    form as its ground-truth twin, exactly the group_quantiles /
    profile_approx pairing)."""
    from annotation_service_spark.functions.text import round_fixed

    w = dsir_weights(docs, target_filter, id_col, text_col, n_buckets, alpha)
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("g|"), F.col("id").cast("string"))), 1, 10), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(float((1 << 40) + 1))
    # cached: consumed by the percentile reduce AND the output select
    # (one slim row per doc)
    scored = scoped_cache(
        w.select(
            "id",
            "n_feats",
            "logw",
            round_fixed(F.col("logw") - F.log(-F.log(u)), 6).alias("gscore"),
        ),
    )
    # threshold rounded onto the same 1e-6 grid as the scores before
    # comparing: the interpolated percentile is the one double here
    # computed by different expression orders on the two engines
    thr = scored.agg(
        round_fixed(
            F.expr(f"percentile(gscore, {1.0 - frac}D)"), 6
        ).alias("thr")
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "id",
        "n_feats",
        "logw",
        "gscore",
        (F.col("gscore") >= F.col("thr")).alias("selected"),
    )


def epoch_shuffle(
    docs: DataFrame,
    id_col: str = "doc_id",
    epoch: int = 0,
    batch_size: int = 256,
    n_shards: int | None = None,
) -> DataFrame:
    """Deterministic per-epoch training order: every row gets its
    exact global rank under the md5('ep{epoch}|'+id) coin order, and
    from it a (batch_idx, pos_in_batch) assignment — the reproducible
    data-order contract training jobs need (same epoch → same order
    on any cluster, any partitioning, any restart; next epoch → a
    fresh permutation, no RNG state to checkpoint).

    Scale shape: the global rank is a ``_range_sharded`` scan on the
    coin with a shard-local row_number; no SinglePartition window, no
    global sort of the corpus. Output: (id, rank, batch_idx,
    pos_in_batch), all exact integers."""
    coin = F.md5(F.concat(F.lit(f"ep{epoch}|"), F.col(id_col).cast("string")))
    src = _range_sharded(
        docs.select(F.col(id_col), coin.alias("__coin")), "__coin", None,
        n_shards=n_shards,
    )
    w = Window.partitionBy("__shard").orderBy("__coin", id_col)
    rank = (F.col("__off") + F.row_number().over(w) - 1).cast("long")
    return src.select(
        id_col,
        rank.alias("rank"),
        F.floor(rank / batch_size).cast("long").alias("batch_idx"),
        F.pmod(rank, F.lit(batch_size)).cast("long").alias("pos_in_batch"),
    )


def token_budget_sample(
    docs: DataFrame,
    budgets,
    id_col: str = "doc_id",
    source_col: str = "source",
    weight_col: str = "n_chars",
    seed: int = 0,
    n_shards: int | None = None,
) -> DataFrame:
    """Assemble a pretraining mixture under per-source token budgets:
    each source contributes documents — in a deterministic
    seeded-hash priority order, i.e. a reproducible uniform sample
    with no RNG state — until its budget is crossed. A document is
    KEPT iff the cumulative weight of strictly-higher-priority
    documents in its source is < the source's budget, so the
    boundary document is kept: budgets are floors crossed at most
    once (by less than one document's weight), which is how real
    mixture specs are filled.

    ``budgets``: an int (same budget for every source) or a
    dict[source -> int]; sources absent from the dict contribute
    NOTHING (budget 0) — an explicit mixture spec is exactly the
    sources it names.

    Scale shape: the per-source running total is a ``_range_sharded``
    scan on the priority coin grouped by source, with a shard-local
    window cumsum. No per-source SinglePartition window: a source with
    10^9 documents costs the same as ten sources with 10^8. Returns
    kept rows only: (id, source, weight, cum_before), where cum_before
    is the source's running total before this document (exact
    integers, engine-portable).

    A dict ``budgets`` prunes the scan to the spec's named sources up
    front (unnamed sources keep nothing, so reading them is pure
    waste); either way the offset collect raises once sources x
    n_shards would exceed ``_MAX_OFFSET_ROWS``."""
    coin = F.md5(
        F.concat(F.lit(f"tb{seed}|"), F.col(id_col).cast("string"))
    )
    src = docs.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        F.col(weight_col).cast("long").alias("w"),
        coin.alias("__coin"),
    )
    if isinstance(budgets, dict):
        # sources outside the spec keep nothing — prune them BEFORE
        # the shard/window work, so the offset table is bounded by
        # the spec itself regardless of the column's true cardinality
        src = src.where(F.col("source").isin(list(budgets)))
        pairs = []
        for s, b in budgets.items():
            pairs.extend([F.lit(s), F.lit(int(b))])
        budget = F.coalesce(
            F.create_map(*pairs)[F.col("source")], F.lit(0)
        )
    else:
        budget = F.lit(int(budgets))
    src = _range_sharded(src, "__coin", "w", by=("source",), n_shards=n_shards)
    w = Window.partitionBy("source", "__shard").orderBy("__coin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_local = F.sum("w").over(w)
    return (
        src.withColumn(
            "cum_before", (F.col("__off") + cum_local - F.col("w")).cast("long")
        )
        .where(F.col("cum_before") < budget)
        .select("id", "source", "w", "cum_before")
    )


def _doc_lines(docs: DataFrame, id_col: str, text_col: str, sep: str) -> DataFrame:
    """(id, n_lines, line_no, line, norm) — documents split into lines
    with a whitespace-collapsed lowercase normalization key. Linear
    explode; everything downstream keys on the norm's CONTENT, never on
    the document, so hot boilerplate lines shuffle as single aggregation
    keys (map-side combinable counts), not as row fan-out.

    r13 (optimization): the per-doc line count rides the explode
    (``n_lines``, one long per row) and the explode is OUTER, so a
    null-text doc still yields one (null line) row. Downstream
    reassembly therefore needs NO second scan of ``docs`` and no
    doc-id re-join to recover per-doc totals or all-lines-removed
    docs — the unit table alone carries everything."""
    from annotation_service_spark.partitioning import spread_underparallel

    # r14: a single-row-group corpus scan pins the split+explode to
    # one task (A/B: boilerplate_lines cold 0.69x with the spread).
    docs = spread_underparallel(docs)
    arr = F.split(F.col(text_col), sep)
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.size(arr).cast("long").alias("n_lines"),
            F.posexplode_outer(arr).alias("line_no", "line"),
        )
        .withColumn(
            "norm",
            F.trim(F.regexp_replace(F.lower(F.col("line")), r"\s+", " ")),
        )
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_line_df: int = 30,
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb line-hash
    family; public: Wenzek et al. 2020 "CCNet", Penedo et al. 2023
    "RefinedWeb"): a line whose normalized form appears in MORE THAN
    ``max_line_df`` distinct documents is navigation chrome, cookie
    banners, or template furniture — remove every occurrence and
    reassemble the documents. Returns
    (id, n_lines, n_kept, clean_text) with lines rejoined by ``sep``
    in original order (same contract as remove_duplicate_spans).

    Blank lines (empty normalized form) are paragraph STRUCTURE, not
    boilerplate — they are excluded from the hot-line count and
    always kept, so a corpus-wide '' never strips every paragraph
    break once it crosses the threshold.

    Plan: linear line explode -> count(DISTINCT doc) per normalized
    line (one content-keyed shuffle, partial-aggregated) -> a left
    join of the hot set that marks hot occurrences -> ONE groupBy doc
    reassembles, counting and collecting only unmarked lines. The hot
    set is tiny by construction (it IS the boilerplate), so AQE turns
    the join into a broadcast at run time from the aggregate's real
    size; a hot set past the session's broadcast budget stays a
    content-keyed join (AQE skew-split applies). Building the plan
    runs no Spark job. The per-doc line total rides the explode, so
    there is no second scan of ``docs`` and no doc-id re-join. No
    all-pairs anywhere; a line shared by 10^9 documents is one
    aggregation key, not a fan-out.

    The unit table feeds both the aggregate and the join, so it is
    scoped-cached: its upstream (scan, synthesis, split) runs once
    per action instead of twice."""
    lines = scoped_cache(_doc_lines(docs, id_col, text_col, sep))
    hot = (
        lines.where(F.col("norm") != "")
        .groupBy("norm")
        .agg(F.count_distinct("id").alias("docs"))
        .where(F.col("docs") > max_line_df)
        .select("norm", F.lit(True).alias("__hot"))
    )
    keep = F.col("__hot").isNull() & F.col("line").isNotNull()
    return _reassemble(lines.join(hot, "norm", "left"), keep, sep)


def dedup_lines_keep_first(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Paragraph/line-level exact dedup keeping ONE canonical copy —
    the literal CCNet paragraph-dedup semantics: every normalized
    line that occurs more than once corpus-wide keeps only its FIRST
    occurrence in (id, line_no) order (a min over values, so the
    survivor is deterministic under any partitioning), all other
    occurrences are removed. Blank lines (empty normalized form) are
    paragraph structure, never a dedup key — every one is kept. Same
    output contract as remove_boilerplate_lines:
    (id, n_lines, n_kept, clean_text).

    Shuffle shape: the keep-first decision only needs the
    DUPLICATED-norm subset (count > 1) with its winning (id,
    line_no) — unique lines decide themselves. That subset is
    usually tiny relative to the corpus, so AQE broadcasts it into
    the left join at run time and the line fan-out never shuffles by
    content — a cookie banner in 10^9 documents costs its
    occurrences one broadcast-map lookup each, not a single-reducer
    pile-up. A subset past the broadcast budget stays a content-keyed
    join (AQE skew-split applies). The groupBy that finds the subset
    is partial-aggregated either way; the per-doc line total rides
    the explode (``_doc_lines``), so there is no second scan of
    ``docs``."""
    return _keep_first_units(_doc_lines(docs, id_col, text_col, sep), sep)


def _keep_first_units(lines: DataFrame, sep: str) -> DataFrame:
    """Shared keep-first core over any (id, n_lines, line_no, line,
    norm) unit table (lines OR sentences): duplicated norms keep
    their min-(id, line_no) occurrence, blank norms are structure
    (always kept), reassembly joins by ``sep`` in original order.

    One left join of the duplicated-norm subset, whose strategy AQE
    picks at run time; building the plan runs no Spark job. One
    groupBy(id) reassembly over flag-marked lines emits the final
    rows directly (null-line rows from the outer explode keep
    empty/null-text docs in the output without a join).

    The unit table feeds both the subset's aggregate and the join,
    so it is scoped-cached: the upstream (parquet scan + text
    synthesis + split) runs once per action instead of twice (the
    cache spills to disk above memory)."""
    lines = scoped_cache(lines)
    dup_first = (
        lines.where(F.col("norm") != "")
        .groupBy("norm")
        .agg(
            F.min(F.struct("id", "line_no")).alias("f"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .where(F.col("cnt") > 1)
        .select("norm", "f")
    )
    keep = (
        F.col("f").isNull()
        | (
            (F.col("id") == F.col("f.id"))
            & (F.col("line_no") == F.col("f.line_no"))
        )
    ) & F.col("line").isNotNull()
    return _reassemble(lines.join(dup_first, "norm", "left"), keep, sep)


def _reassemble(marked: DataFrame, keep: Column, sep: str) -> DataFrame:
    """(id, n_lines, n_kept, clean_text): one groupBy doc over the
    marked unit rows, rejoining the ``keep`` units by ``sep`` in
    ``line_no`` order."""
    return (
        marked.groupBy("id", "n_lines")
        .agg(
            F.count(F.when(keep, 1)).cast("long").alias("n_kept"),
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("line_no", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("clean_text"),
        )
        .select("id", "n_lines", "n_kept", "clean_text")
    )


def _doc_sentences(
    docs: DataFrame, id_col: str, text_col: str, outer: bool = False
) -> DataFrame:
    """(id, line_no, line, norm) at SENTENCE granularity — the unit
    table the keep-first core consumes, cut by a deterministic,
    engine-portable segmentation: a sentence is a maximal run of
    non-terminal characters plus its trailing terminal run
    (``[^.!?]+[.!?]*``, so 'Hi!! Ok.' cuts to 'Hi!!' / 'Ok.'),
    trimmed of whitespace, empties dropped. No lookaround (RE2 has
    none), no abbreviation model — the contract is reproducibility,
    not linguistic perfection (the same trade every published
    pipeline's rule-based splitter makes).

    The unit keeps the ``line_no``/``line`` column names so the
    keep-first core and its tests apply verbatim; ``line_no`` is the
    sentence's index among the KEPT (non-empty) sentences, which is
    also the reassembly order. r13: the per-doc sentence count rides
    the explode as ``n_lines`` (what the old separate base scan
    computed); ``outer=True`` switches to posexplode_outer so a
    zero-sentence doc still yields one (null) row — the keep-first
    core needs that to emit every doc without a base re-join, while
    the streaming consumer keeps the inner default (its
    dropDuplicates must never see a null norm row)."""
    from annotation_service_spark.partitioning import spread_underparallel

    # r14: parallelize the regex segmentation + explode (A/B:
    # sentence_dedup cold 0.66x).
    docs = spread_underparallel(docs)
    arr = F.regexp_extract_all(
        F.col(text_col), F.lit(r"[^.!?]+[.!?]*"), F.lit(0)
    )
    trimmed = F.transform(
        arr, lambda s: F.regexp_replace(s, r"^[ \t\n\r\f]+|[ \t\n\r\f]+$", "")
    )
    sents = F.filter(trimmed, lambda s: s != "")
    explode = F.posexplode_outer if outer else F.posexplode
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(sents).cast("long").alias("n_lines"),
        explode(sents).alias("line_no", "line"),
    ).withColumn(
        "norm",
        F.trim(F.regexp_replace(F.lower(F.col("line")), r"\s+", " ")),
    )


def dedup_sentences_keep_first(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SENTENCE-level exact dedup keeping one canonical copy — the
    Dolma toolkit's sentence/paragraph dedup stage (public: Soldaini
    et al. 2024 "Dolma" §4; their bloom-filter pass is approximate,
    this is the exact compaction-time form): every normalized
    sentence occurring more than once corpus-wide keeps only its
    FIRST occurrence in (id, sent_no) order; survivors rejoin with a
    single space (sentences carry their own punctuation). Returns
    (id, n_sents, n_kept, clean_text).

    Same shuffle shape as dedup_lines_keep_first (the shared
    ``_keep_first_units`` core): the keep-first decision reads only
    the DUPLICATED-norm subset, which AQE broadcasts at run time when
    it fits the session's budget — a corpus-hot sentence never piles
    onto one reducer, and building the plan runs no Spark job. The
    per-doc sentence count rides the explode, so there is no separate
    base scan of ``docs``."""
    sents = _doc_sentences(docs, id_col, text_col, outer=True)
    out = _keep_first_units(sents, " ")
    return out.withColumnRenamed("n_lines", "n_sents")


def length_bucket_batches(
    docs: DataFrame,
    batch_size: int = 32,
    length_col: str = "n_chars",
    id_col: str = "doc_id",
    n_shards: int | None = None,
) -> DataFrame:
    """Padding-efficient batch assignment — the group-by-length
    batching trainers use (e.g. the public HuggingFace Trainer's
    ``group_by_length``): documents order by (length, id) and cut
    into fixed ``batch_size`` batches, so each batch holds near-equal
    lengths and the padding waste (batch max minus own length) is
    near-minimal. Returns (id, length, rank, batch_idx,
    batch_max_len, pad_waste) — exact integers, engine-portable.

    Scale shape: the global rank is a ``_range_sharded`` scan on the
    LENGTH (equal lengths land in one shard, so the shard-local
    row_number plus ``__off`` IS the exact global rank), then one
    window keyed by batch_idx for the batch max (each partition is
    one batch, ≤ batch_size rows). No global sort, no SinglePartition
    window, no corpus-sized collect."""
    src = docs.select(
        F.col(id_col).alias("id"),
        F.col(length_col).cast("long").alias("length"),
    )
    src = _range_sharded(src, "length", None, n_shards=n_shards)
    w = Window.partitionBy("__shard").orderBy("length", "id")
    rank = (F.col("__off") + F.row_number().over(w) - 1).cast("long")
    ranked = src.select(
        "id",
        "length",
        rank.alias("rank"),
        F.floor(rank / batch_size).cast("long").alias("batch_idx"),
    )
    wb = Window.partitionBy("batch_idx")
    bmax = F.max("length").over(wb)
    return ranked.select(
        "id", "length", "rank", "batch_idx",
        bmax.cast("long").alias("batch_max_len"),
        (bmax - F.col("length")).cast("long").alias("pad_waste"),
    )
