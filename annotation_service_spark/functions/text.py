"""Text analysis column library for training-data pipelines.

Language-ID (stopword-overlap heuristic), quality scoring (length /
punctuation / stopword ratios), token counting (whitespace +
regex-token variants), and document fingerprinting (min-hash-of-
shingles, a winnowing-style content fingerprint).

Everything is built-in expressions (JVM codegen) and engine-portable
(md5 / regexp / array ops only), so each metric is DuckDB-oracle
checkable and runs at corpus scale with zero Python cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import token_grams, tokens

# tiny per-language stopword profiles (deterministic heuristic)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
    "zh": ["de", "shi", "le", "zai", "he"],
}


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = tokens(text)
    stops = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(0.0)


def punct_ratio(text: Column) -> Column:
    clean = F.regexp_replace(F.lower(text), "[a-z0-9 ]", "")
    return F.when(
        F.length(text) > 0, F.length(clean) / F.length(text)
    ).otherwise(0.0)


def mean_word_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(0.0)


def round_fixed(x: Column, digits: int) -> Column:
    """Engine-portable fixed rounding: floor(x·10^d + 0.5)/10^d on the
    BINARY double value. Spark's round() rounds the shortest decimal
    repr (HALF_UP on Double.toString) while DuckDB rounds the binary
    value — they disagree on exact-half boundaries; this doesn't."""
    scale = float(10**digits)
    return F.floor(x * scale + F.lit(0.5)) / F.lit(scale)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: rewarded for natural
    stopword density, moderate word length, low punctuation, and
    enough tokens. Weights are arbitrary but fixed; the value is a
    FILTER SIGNAL, not a calibrated probability."""
    s = stopword_ratio(text)
    p = punct_ratio(text)
    n = token_count(text)
    len_term = F.least(n / F.lit(100.0), F.lit(1.0))
    wl = mean_word_len(text)
    wl_term = F.lit(1.0) - F.least(F.abs(wl - 5.0) / F.lit(5.0), F.lit(1.0))
    return round_fixed(
        F.lit(0.3) * F.least(s * 5, F.lit(1.0))
        + F.lit(0.25) * (F.lit(1.0) - F.least(p * 4, F.lit(1.0)))
        + F.lit(0.25) * len_term
        + F.lit(0.2) * wl_term,
        4,
    )


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokens(text)
    out = {}
    for lang, words in LANG_PROFILES.items():
        stops = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return out


def lang_id(text: Column) -> Column:
    """Predicted language = profile with the max overlap count; ties
    break in fixed profile order (en first). Deterministic, portable."""
    scores = lang_scores(text)
    langs = list(LANG_PROFILES)
    best_lang = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        is_better = scores[lang] > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, scores[lang]).otherwise(best_score)
    return best_lang


def text_metrics_table(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """All per-document text metrics in ONE pass over exploded tokens
    plus one over 5-gram shingles — each token/shingle is evaluated
    exactly once, vs. the column expressions where Catalyst's
    projection collapsing re-tokenizes per metric (measured ~10x
    slower at corpus scale). Returns (id, n_tokens, n_ws_tokens,
    stop_ratio, punct_ratio, quality, fingerprint); ratios use
    engine-portable fixed rounding.
    """
    from pyspark.sql import functions as F  # noqa: F811 (local alias)

    t = F.col(text_col)
    stops = F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
    base = df.select(
        F.col(id_col).alias("id"),
        F.length(t).alias("n_chars_total"),
        F.length(F.regexp_replace(F.lower(t), "[a-z0-9 ]", "")).alias("n_punct"),
        F.size(F.filter(F.split(t, r"\s+"), lambda w: w != "")).alias("n_ws_tokens"),
        tokens(t).alias("toks"),
    )
    tok = base.select("id", F.posexplode("toks").alias("pos", "tok"))
    tok_agg = tok.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.length("tok")).alias("tok_len_total"),
        F.sum(F.array_contains(stops, F.col("tok")).cast("int")).alias("n_stop"),
    )
    # 5-gram shingles over the SAME exploded tokens
    fp = token_grams(tok, 5).groupBy("id").agg(
        F.min(F.md5("s")).alias("fingerprint")
    )

    j = (
        base.withColumn("norm", F.concat_ws(" ", "toks"))
        .drop("toks")
        .join(tok_agg, "id", "left")
        .join(fp, "id", "left")
        .withColumn("n_tokens", F.coalesce("n_tokens", F.lit(0)))
        .withColumn(
            "fingerprint", F.coalesce("fingerprint", F.md5("norm"))
        )
    )
    s = F.when(
        F.col("n_tokens") > 0, F.col("n_stop") / F.col("n_tokens")
    ).otherwise(0.0)
    p = F.when(
        F.col("n_chars_total") > 0, F.col("n_punct") / F.col("n_chars_total")
    ).otherwise(0.0)
    wl = F.when(
        F.col("n_tokens") > 0, F.col("tok_len_total") / F.col("n_tokens")
    ).otherwise(0.0)
    len_term = F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
    wl_term = F.lit(1.0) - F.least(F.abs(wl - 5.0) / F.lit(5.0), F.lit(1.0))
    quality = round_fixed(
        F.lit(0.3) * F.least(s * 5, F.lit(1.0))
        + F.lit(0.25) * (F.lit(1.0) - F.least(p * 4, F.lit(1.0)))
        + F.lit(0.25) * len_term
        + F.lit(0.2) * wl_term,
        4,
    )
    return j.select(
        "id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "n_ws_tokens",
        round_fixed(s, 6).alias("stop_ratio"),
        round_fixed(p, 6).alias("punct_ratio"),
        quality.alias("quality"),
        "fingerprint",
    )


def lang_id_table(df, id_col: str = "doc_id", text_col: str = "text"):
    """Language-ID over exploded tokens (one tokenization, one
    map-side-combinable groupBy) — same argmax-with-profile-order
    semantics as the ``lang_id`` column expression, ~5x cheaper at
    corpus scale."""
    from pyspark.sql import functions as F  # noqa: F811

    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    aggs = []
    for lang, words in LANG_PROFILES.items():
        stops = F.array(*[F.lit(w) for w in words])
        aggs.append(
            F.sum(F.array_contains(stops, F.col("tok")).cast("int")).alias(f"s_{lang}")
        )
    scores = tok.groupBy("id").agg(*aggs)
    base = df.select(F.col(id_col).alias("id"))
    scores = base.join(scores, "id", "left").na.fill(0)
    langs = list(LANG_PROFILES)
    best_lang = F.lit(langs[0])
    best_score = F.col(f"s_{langs[0]}")
    for lang in langs[1:]:
        is_better = F.col(f"s_{lang}") > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, F.col(f"s_{lang}")).otherwise(best_score)
    return scores.select("id", best_lang.alias("pred_lang"))


# --- PII scrubbing (training-data hygiene) ---------------------------------
# Patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repeats, \b word boundaries —
# no lookarounds, so one pattern text serves both engines.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
IPV4_RE = (
    r"\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    r"(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\b"
)


def redact_pii(text: Column) -> Column:
    """Scrub emails / phone numbers / IPv4 literals from a document,
    returning struct(redacted, n_emails, n_phones, n_ips). All
    replacement happens JVM-side (regexp_replace replaces every
    match); counts come from regexp_extract_all BEFORE redaction so
    overlapping kinds count independently."""
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), F.lit(0)))
    red = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    return F.struct(
        red.alias("redacted"),
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
        n_ips.cast("int").alias("n_ips"),
    )


# --- Repetition filters (Gopher-style quality rules) -----------------------


def repetition_metrics_table(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    dup2_max: float = 0.20,
    dup3_max: float = 0.18,
    top2_max: float = 0.20,
):
    """Per-document n-gram repetition metrics with a Gopher-style keep
    flag (Rae et al. 2021 §A1.1: documents whose duplicate-n-gram or
    most-frequent-n-gram mass is too high are boilerplate/spam).

    Returns (id, total_2grams, distinct_2grams, dup_2gram_frac,
    top_2gram_frac, total_3grams, distinct_3grams, dup_3gram_frac,
    keep) for every doc with >= 3 tokens.

    Shape at scale: ONE token explode feeds both gram sizes (window
    leads over the same (id, pos) ordering — one shuffle keyed on doc
    id), then each gram size is a two-level aggregation
    (groupBy(id, gram) -> groupBy(id)), all map-side combinable and
    keyed by doc id / content — skew-free. The final join is
    id-to-id, one row per doc per side.

    r13 measurement note (guide §1): a "zero-shuffle" per-row rewrite
    (gram arrays + ``array_distinct`` + an ``aggregate`` fold over the
    sorted gram array for the top-gram multiplicity) was tried and
    MEASURED 40x SLOWER at sf0.1 (80 s vs 1.3-1.9 s cold): Spark's
    higher-order array functions are CodegenFallback — the fold
    evaluates interpreted, allocating an accumulator struct per gram
    per row — so five exchanges of tiny (id, gram, count) rows beat
    per-row interpreted array arithmetic by an order of magnitude.
    Kept the exchange form deliberately."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F  # noqa: F811

    # r14 measurement note (guide §1.1): spread_underparallel on the
    # input was tried here and REVERTED — pipeline_full regressed
    # ~1.3 s (its repetition branch re-reads the corpus the other
    # stages consume un-spread, so the extra exchange is pure cost)
    # and standalone repetition_filter measured par-or-better without
    # it (the tokenize feeds straight into a map-side-combinable
    # (id, gram) groupBy whose exchange spreads the heavy work anyway).
    tok = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    l1 = F.lead("tok", 1).over(w)
    l2 = F.lead("tok", 2).over(w)
    # no cache/checkpoint: both gram branches sit on the same window
    # shuffle, which AQE reuses at runtime; pinning the frame in
    # storage (localCheckpoint) measured slower AND leaks executor
    # storage that catalog.clearCache() cannot reclaim.
    grams = tok.select(
        "id",
        F.when(l1.isNotNull(), F.concat_ws(" ", F.col("tok"), l1)).alias("g2"),
        F.when(l2.isNotNull(), F.concat_ws(" ", F.col("tok"), l1, l2)).alias(
            "g3"
        ),
    )

    def level(col: str):
        c = (
            grams.where(F.col(col).isNotNull())
            .groupBy("id", col)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return c.groupBy("id").agg(
            F.sum("c").alias(f"total_{col}"),
            F.count(F.lit(1)).alias(f"distinct_{col}"),
            F.max("c").alias(f"top_{col}"),
        )

    a2, a3 = level("g2"), level("g3")
    j = a2.join(a3, "id")
    dup2 = (F.col("total_g2") - F.col("distinct_g2")) / F.col("total_g2")
    dup3 = (F.col("total_g3") - F.col("distinct_g3")) / F.col("total_g3")
    top2 = F.col("top_g2") / F.col("total_g2")
    return j.select(
        "id",
        F.col("total_g2").alias("total_2grams"),
        F.col("distinct_g2").alias("distinct_2grams"),
        round_fixed(dup2, 6).alias("dup_2gram_frac"),
        round_fixed(top2, 6).alias("top_2gram_frac"),
        F.col("total_g3").alias("total_3grams"),
        F.col("distinct_g3").alias("distinct_3grams"),
        round_fixed(dup3, 6).alias("dup_3gram_frac"),
        (
            (dup2 <= F.lit(dup2_max))
            & (dup3 <= F.lit(dup3_max))
            & (top2 <= F.lit(top2_max))
        ).alias("keep"),
    )


def vocab_topk(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 100,
):
    """Corpus vocabulary heavy hitters: the k most frequent tokens
    with their total count and document frequency — the IDF table /
    stopword-discovery primitive a curation pipeline derives before
    tuning quality heuristics.

    Returns (token, cnt, df_docs) with a total deterministic order
    (cnt desc, token asc) so the top-k set is unique.

    Scale: term counting is THE canonical map-side-combinable
    aggregation — the shuffle carries one partial row per (partition,
    token), not one per occurrence. Document frequency rides the same
    explode via a two-level agg (groupBy(token, id) then
    groupBy(token)), keeping both keys content-hashed and skew-free.
    The global top-k is a TakeOrdered (per-partition heap + driver
    merge of k·n_partitions rows), never a full sort.
    """
    from pyspark.sql import functions as F  # noqa: F811

    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    per_doc = tok.groupBy("token", "id").agg(F.count(F.lit(1)).alias("c"))
    counts = per_doc.groupBy("token").agg(
        F.sum("c").cast("long").alias("cnt"),
        F.count(F.lit(1)).cast("long").alias("df_docs"),
    )
    return counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)


def unigram_nll_table(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document unigram negative log-likelihood under the
    corpus's own unigram distribution — the CCNet-style "perplexity
    bucket" signal (Wenzek et al. 2020): documents whose tokens are
    collectively improbable are noise; improbably-probable ones are
    boilerplate. Returns (id, n_tokens, nll_bits) where nll_bits is
    the mean -log2 p(token), rounded to 1e-6.

    Scale shape: the vocabulary (token, cnt) aggregation is the
    map-side-combinable term count; the probability lookup is an
    equi-join on the token (uniform key — and Spark broadcasts it
    while the vocab is small); the per-doc mean is one groupBy by
    doc id. The corpus streams through exactly twice, nothing
    collects to the driver.

    Rounding note: log2 is the one non-correctly-rounded primitive
    here (ulp-level engine differences); the 1e-6 rounding of a
    per-doc MEAN absorbs them (diff ~1e-15 relative), matching the
    convention of group_quantiles/repetition metrics.
    """
    from pyspark.sql import functions as F  # noqa: F811

    from annotation_service_spark.caching import scoped_cache

    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    # r14 (guide §2.4/§5): ``vocab`` feeds two legs (the total and the
    # probability projection), each of which otherwise replays the
    # corpus tokenize+explode+groupBy; it is vocabulary-sized — cache.
    vocab = scoped_cache(tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    total = vocab.agg(F.sum("cnt").cast("double").alias("t"))
    p = vocab.crossJoin(F.broadcast(total)).select(
        "token", (F.col("cnt") / F.col("t")).alias("p")
    )
    return (
        tok.join(p, "token")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            round_fixed(-F.avg(F.log2("p")), 6).alias("nll_bits"),
        )
    )


def normalize_text_table(df, id_col: str = "doc_id", text_col: str = "text"):
    """Canonical text normalization — the first stage of any training
    corpus pipeline: Unicode NFC composition, whitespace-class
    collapse to single spaces, and edge trim. Returns
    (id, norm_len, norm_md5): the digest pins the exact normalized
    bytes without shipping them around.

    Execution split: the NFC step is the only part that needs Python
    (Spark has no normalization expression) and runs as ONE
    Arrow-batched mapInPandas pass; the whitespace collapse, trim,
    length and md5 all stay JVM-side expressions on top of it. Java's
    regex \\s and RE2's (DuckDB oracle) match the same 6-char class,
    and NFC is NFC in unicodedata and utf8proc alike, so the digest
    is engine-portable."""
    from pyspark.sql import functions as F  # noqa: F811

    def nfc(batches):
        import unicodedata

        for pdf in batches:
            pdf = pdf.copy()
            pdf[text_col] = [
                unicodedata.normalize("NFC", t) if t is not None else None
                for t in pdf[text_col]
            ]
            yield pdf

    composed = df.select(F.col(id_col).alias("id"), text_col).mapInPandas(
        nfc, f"id long, {text_col} string"
    )
    norm = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return composed.select(
        "id",
        F.length(norm).cast("long").alias("norm_len"),
        F.md5(norm).alias("norm_md5"),
    )


def bigram_nll_table(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document BIGRAM negative log-likelihood with add-one
    (Laplace) smoothing under the corpus's own bigram counts — the
    sequence-aware upgrade of ``unigram_nll_table``: repetitive
    boilerplate scores improbably low, shuffled-word salad improbably
    high, signals the unigram model cannot see.

      p(b|a)  = (c(a,b) + 1) / (c(a·) + V),  V = |vocab|
      nll     = mean over the doc's bigrams of -log2 p(b|a)

    Returns (id, n_bigrams, nll_bits); docs with < 2 tokens have no
    bigrams and drop out (mirrored by the oracle's len ≥ 2 guard).

    Scale shape: bigram expansion is a zip_with over the token array
    (per-row expression); c(a,b) and c(a·) are map-side-combinable
    groupBys keyed by content strings; V is a 1-row broadcast; the
    probability lookup is one equi-join on the bigram. Same 1e-6
    rounding convention as unigram_nll for the log2 ulps.
    """
    from pyspark.sql import functions as F  # noqa: F811

    ws = tokens(F.col(text_col))
    bigrams = F.when(
        F.size(ws) >= 2,
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from annotation_service_spark.caching import scoped_cache

    big = df.select(
        F.col(id_col).alias("id"), F.explode(bigrams).alias("bg")
    )
    # r14 (guide §2.4/§5): ``cab`` (one row per DISTINCT bigram —
    # vocabulary-sized) feeds the context aggregate AND the
    # probability projection; uncached each leg replays the corpus
    # bigram explode.
    cab = scoped_cache(big.groupBy("bg").agg(F.count(F.lit(1)).alias("c_ab")))
    ca = cab.groupBy(F.split("bg", " ")[0].alias("a")).agg(
        F.sum("c_ab").alias("c_a")
    )
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .agg(F.countDistinct("t").cast("double").alias("v"))
    )
    p = (
        cab.withColumn("a", F.split("bg", " ")[0])
        .join(ca, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            ((F.col("c_ab") + F.lit(1.0)) / (F.col("c_a") + F.col("v"))).alias(
                "p"
            ),
        )
    )
    return (
        big.join(p, "bg")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            round_fixed(-F.avg(F.log2("p")), 6).alias("nll_bits"),
        )
    )


def kneser_ney_nll_table(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
):
    """Per-document bigram NLL under INTERPOLATED KNESER-NEY
    smoothing (Kneser & Ney 1995; absolute-discount form of Chen &
    Goodman 1998 §2.7 — public) — the smoothing actually used by
    n-gram perplexity filters (CCNet's LM stage is a KN-smoothed
    model): Laplace (``bigram_nll_table``) over-penalizes rare
    continuations, KN backs off to the CONTINUATION unigram
    ("how many contexts does this word follow?"), which is the
    right prior for boilerplate words that appear often but only
    ever after one context.

      P_cont(b)  = N1+(·b) / N1+(··)        (continuation prob)
      λ(a)       = D · N1+(a·) / c(a·)      (backoff mass)
      P(b|a)     = max(c(a,b) − D, 0)/c(a·) + λ(a) · P_cont(b)
      nll        = mean over the doc's bigrams of −log2 P(b|a)

    with D = ``discount`` (0.75, the textbook constant), N1+(a·) the
    distinct-successor count of a, N1+(·b) the distinct-predecessor
    count of b, N1+(··) the total distinct bigram types. Self-scoring
    over the corpus's own counts means c(a·) > 0 for every scored
    bigram, so no zero-context branch is needed (mirrored by the
    oracle). Docs with < 2 tokens have no bigrams and drop out.

    Scale shape is the bigram_nll plan plus two more
    map-side-combinable groupBys over the DISTINCT-bigram table
    (strictly smaller than the bigram stream): c(a,b) and the three
    type counts all key on content strings; N1+(··) is a 1-row
    broadcast. The probability arithmetic is written with explicit
    parentheses and replayed op-for-op by the oracle, so the only
    engine noise is log2 ulps — absorbed by the same 1e-6 rounding
    of the per-doc mean as unigram/bigram NLL.
    """
    from pyspark.sql import functions as F  # noqa: F811

    d = float(discount)
    ws = tokens(F.col(text_col))
    bigrams = F.when(
        F.size(ws) >= 2,
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from annotation_service_spark.caching import scoped_cache

    big = df.select(
        F.col(id_col).alias("id"), F.explode(bigrams).alias("bg")
    )
    # r14 (guide §2.4/§5): ``cab`` feeds FOUR legs below (ca, cb,
    # ntypes, and the probability projection) — uncached, each leg
    # replayed the corpus tokenize+zip_with+explode (measured: 10
    # parquet scans / 24 Exchanges in the kn_nll gate plan). One row
    # per DISTINCT bigram — vocabulary-sized, cache it.
    cab = scoped_cache(big.groupBy("bg").agg(F.count(F.lit(1)).alias("c_ab")))
    # cab has one row per DISTINCT bigram: count(*) grouped by a is
    # N1+(a·), grouped by b is N1+(·b), ungrouped is N1+(··).
    ca = cab.groupBy(F.split("bg", " ")[0].alias("a")).agg(
        F.sum("c_ab").alias("c_a"),
        F.count(F.lit(1)).alias("n1_fwd"),
    )
    cb = cab.groupBy(F.split("bg", " ")[1].alias("b")).agg(
        F.count(F.lit(1)).alias("n1_back")
    )
    ntypes = cab.agg(F.count(F.lit(1)).cast("double").alias("nt"))
    p = (
        cab.withColumn("a", F.split("bg", " ")[0])
        .withColumn("b", F.split("bg", " ")[1])
        .join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(ntypes))
        .select(
            "bg",
            (
                (
                    F.greatest(F.col("c_ab") - F.lit(d), F.lit(0.0))
                    / F.col("c_a")
                )
                + (
                    ((F.lit(d) * F.col("n1_fwd")) / F.col("c_a"))
                    * (F.col("n1_back") / F.col("nt"))
                )
            ).alias("p"),
        )
    )
    return (
        big.join(p, "bg")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            round_fixed(-F.avg(F.log2("p")), 6).alias("nll_bits"),
        )
    )


def pmi_collocations(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
):
    """Top-k bigram collocations by pointwise mutual information —
    the classic multi-word-expression / tokenizer-merge-candidate
    signal (Church & Hanks 1990):

      pmi(a,b) = log2( c(a,b)·N / (c(a)·c(b)) )

    over the corpus token stream, where N is the total bigram count
    and c(a)/c(b) are UNIGRAM occurrence counts. ``min_count`` floors
    c(a,b) so one-off juxtapositions of two rare words (pmi → max)
    don't drown real collocations. Returns (w1, w2, n_pair, pmi)
    with a totally deterministic top-k: rank on (pmi rounded to 1e-6
    desc, w1, w2) — ties at the cutoff resolve identically in any
    engine.

    Scale: both count tables are map-side-combinable groupBys keyed
    by content strings; the two unigram lookups are equi-joins on a
    vocab-sized table (broadcast while small); the global top-k is a
    TakeOrdered, never a full sort. The corpus streams twice
    (unigram pass + bigram pass), nothing collects.
    """
    from pyspark.sql import functions as F  # noqa: F811

    ws = tokens(F.col(text_col))
    bigrams = F.when(
        F.size(ws) >= 2,
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from annotation_service_spark.caching import scoped_cache

    big = df.select(F.explode(bigrams).alias("bg"))
    # r14 (guide §2.4/§5): ``cab`` feeds the total and the scored
    # projection, ``uni`` both unigram lookup joins — uncached, each
    # leg replays a corpus tokenize+explode. Both are vocab-sized.
    cab = scoped_cache(big.groupBy("bg").agg(F.count(F.lit(1)).alias("n_pair")))
    uni = scoped_cache(
        df.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c")),
    )
    n_tot = cab.agg(F.sum("n_pair").cast("double").alias("n"))
    scored = (
        cab.where(F.col("n_pair") >= min_count)
        .withColumn("w1", F.split("bg", " ")[0])
        .withColumn("w2", F.split("bg", " ")[1])
        .join(uni.select(F.col("t").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            round_fixed(
                F.log2(
                    F.col("n_pair") * F.col("n") / (F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(k)


def source_kl_table(
    df,
    source_col: str = "source",
    text_col: str = "text",
    top_v: int = 500,
):
    """Per-source unigram KL divergence against the corpus — the data
    -mixing diagnostic: how far each source's token distribution sits
    from the blend it contributes to (high KL → the source shifts the
    mix; near-zero → redundant with the blend). Computed over the
    corpus's top-``top_v`` vocabulary with add-one smoothing so every
    source has full support:

      p_s(w) = (c_s(w)+1)/(n_s+V),  q(w) = (c(w)+1)/(n+V)
      kl(s)  = Σ_w p_s(w) · log2(p_s(w)/q(w))     [w ∈ top-V]

    Restricting to the fixed top-V vocab is what makes the operator
    scale-SAFE by construction: the source×vocab support is
    |sources|·V rows regardless of corpus size, and the tail tokens
    KL would weight by ~1/(n_s+V) each are exactly the ones whose
    estimates are noise anyway. Returns (source, n_tokens, kl_bits)
    with the same 1e-6 rounding convention as the NLL tables.

    Scale: one map-side-combinable (source, token) count; top-V is a
    TakeOrdered on the token marginal (deterministic: cnt desc, token
    asc); the dense support is a broadcast cross of the V-row vocab
    with the source dim; everything after is equi-joins on those
    bounded tables.
    """
    from pyspark.sql import functions as F  # noqa: F811

    from annotation_service_spark.caching import scoped_cache

    tok = df.select(
        F.col(source_col).alias("src"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    # r14 (guide §2.4/§5): the (src, token) count table feeds the
    # marginal, the per-source totals, and the smoothed probability
    # legs — cache the |sources|x|vocab|-bounded relation so the
    # corpus tokenize runs once.
    st = scoped_cache(tok.groupBy("src", "t").agg(F.count(F.lit(1)).alias("c_st")))
    marg = st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    top = marg.orderBy(F.desc("c_t"), F.asc("t")).limit(top_v)
    # totals restricted to the top-V support (so p and q both
    # normalize over the same event space)
    n_s = st.join(top.select("t"), "t").groupBy("src").agg(
        F.sum("c_st").cast("double").alias("n_s")
    )
    # the vocabulary size V rides in the same one-row aggregate, so the
    # formula reads it as a column and building the plan runs no job
    n_q = top.agg(
        F.sum("c_t").cast("double").alias("n_q"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    dense = (
        n_s.crossJoin(F.broadcast(top))
        .join(st, ["src", "t"], "left")
        .withColumn("c_st", F.coalesce("c_st", F.lit(0)))
        .crossJoin(F.broadcast(n_q))
        .select(
            "src",
            "n_s",
            ((F.col("c_st") + 1.0) / (F.col("n_s") + F.col("v"))).alias("p"),
            ((F.col("c_t") + 1.0) / (F.col("n_q") + F.col("v"))).alias("q"),
        )
    )
    return (
        dense.groupBy("src", "n_s")
        .agg(round_fixed(F.sum(F.col("p") * F.log2(F.col("p") / F.col("q"))), 6).alias("kl_bits"))
        .select(
            F.col("src").alias("source"),
            F.col("n_s").cast("long").alias("n_tokens"),
            "kl_bits",
        )
    )


def gopher_quality_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    required_stops: tuple = (
        "the", "be", "to", "of", "and", "that", "have", "with",
    ),
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", Table A1 — public): per-document repetition-
    free quality heuristics and the combined keep/drop verdict.
    Rules implemented, each also emitted as a column:

    - word count in [min_words, max_words] (whitespace words);
    - mean word length in [min_mean_word_len, max_mean_word_len];
    - symbol-to-word ratio ('#' or '...') <= 0.1;
    - <= 90% of lines start with a bullet ('-', '*', '•');
    - <= 30% of lines end with an ellipsis;
    - >= 80% of words contain at least one alphabetic character;
    - at least ``min_stop_hits`` of the required stop words occur.

    EVERY pass condition is evaluated in integer arithmetic
    (10*symbols <= n_words, 5*alpha >= 4*n_words, total_len bounds
    times n_words, ...) so the verdict is bit-portable across
    engines — float ratios are emitted for reporting only, through
    ``round_fixed``. One pass over the text, no joins, no shuffle
    beyond the scan."""
    text = F.col(text_col)
    ws = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    n_words = F.size(ws)
    total_len = F.aggregate(ws, F.lit(0), lambda a, w: a + F.length(w))
    alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]")))
    hash_count = F.length(text) - F.length(F.replace(text, F.lit("#")))
    ell_count = (
        F.length(text) - F.length(F.replace(text, F.lit("...")))
    ) / F.lit(3)
    symbols = (hash_count + ell_count).cast("long")
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
        )
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    toks = tokens(text)
    stop_hits = sum(
        F.array_contains(toks, s).cast("int") for s in required_stops
    )
    passes = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (total_len >= n_words * F.lit(int(min_mean_word_len)))
        & (total_len <= n_words * F.lit(int(max_mean_word_len)))
        & (symbols * 10 <= n_words)
        & (bullet_lines * 10 <= n_lines * 9)
        & (ellipsis_lines * 10 <= n_lines * 3)
        & (alpha_words * 5 >= n_words * 4)
        & (stop_hits >= min_stop_hits)
    )
    return docs.select(
        F.col(id_col).alias("id"),
        n_words.cast("long").alias("n_words"),
        round_fixed(
            F.when(n_words > 0, total_len / n_words).otherwise(0.0), 4
        ).alias("mean_word_len"),
        symbols.alias("n_symbols"),
        round_fixed(
            F.when(n_words > 0, alpha_words / n_words).otherwise(0.0), 4
        ).alias("alpha_word_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
        passes.alias("passes"),
    )


def c4_clean(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_line_words: int = 5,
    min_sentences: int = 3,
    terminal: tuple = (".", "!", "?", '"'),
) -> DataFrame:
    """C4 cleaning (Raffel et al. 2020, "Exploring the Limits of
    Transfer Learning...", §2.2 — public): line-level retention plus
    page-level drops, re-expressed over the line family's contract.

    Line rules (a line is KEPT iff all hold):
    - ends with a terminal punctuation mark;
    - has at least ``min_line_words`` whitespace words;
    - does not contain the word 'javascript' (case-insensitive).

    Page rules (the whole document drops, clean_text='' and
    kept_page=false):
    - contains 'lorem ipsum' (case-insensitive) or a '{';
    - fewer than ``min_sentences`` RETAINED lines (each retained
      line ends with terminal punctuation, the paper's sentence
      proxy).

    Returns (id, n_lines, n_kept, kept_page, clean_text); same
    linear-explode + per-doc reassembly shape as the line family —
    no joins at all (the verdicts are per-row expressions)."""
    text = F.col(text_col)
    lines = F.split(text, sep)
    is_kept = lambda l: (  # noqa: E731
        F.substring(F.rtrim(l), -1, 1).isin(*terminal)
        & (F.size(F.filter(F.split(l, r"\s+"), lambda w: w != ""))
           >= min_line_words)
        & ~F.lower(l).rlike("javascript")
    )
    kept_arr = F.filter(lines, is_kept)
    n_kept = F.size(kept_arr)
    page_ok = (
        ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
        & (n_kept >= min_sentences)
    )
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.when(page_ok, n_kept).otherwise(F.lit(0)).cast("long").alias(
            "n_kept"
        ),
        page_ok.alias("kept_page"),
        F.when(page_ok, F.concat_ws(sep, kept_arr)).otherwise(F.lit("")).alias(
            "clean_text"
        ),
    )


def blocked_word_filter(
    docs: DataFrame,
    blocked: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Word-blocklist page filter — the C4 stage this module's
    ``c4_clean`` deliberately leaves out (Raffel et al. 2020 §2.2
    drops any page containing a word from a public blocklist; Dolma
    and RefinedWeb run the same stage with their own lists). The
    LIST is the caller's policy input — this operator ships the
    MECHANISM only.

    Matching contract: whole-token match on the shared pipeline
    tokenizer (lowercased alphanumeric runs), so 'class' never
    matches inside 'classic' — the word-boundary semantics the C4
    list requires. Multi-word phrases are out of contract (the
    published list is word-dominated; a phrase stage would be a
    ``contains`` sweep).

    Returns one row per input doc: (id, blocked, n_hits, hit_words)
    with hit_words the SORTED comma-joined distinct hits ('' when
    clean) — sorted so the row is deterministic regardless of token
    order, and a flat string so every engine compares it bit-exactly.

    Scale shape: the blocklist (couple of thousand words) folds into
    the plan as a LITERAL array; matching is array_intersect on the
    doc's distinct-token array — a pure per-row expression, no join,
    no shuffle, whole-stage-codegen'd. At 100 TB this costs exactly
    one scan."""
    blocked_arr = F.array(
        *[F.lit(w.lower()) for w in sorted(set(blocked))]
    )
    toks = F.array_distinct(tokens(F.col(text_col)))
    hits = F.array_sort(F.array_intersect(toks, blocked_arr))
    return docs.select(
        F.col(id_col).alias("id"),
        (F.size(hits) > 0).alias("blocked"),
        F.size(hits).cast("long").alias("n_hits"),
        F.concat_ws(",", hits).alias("hit_words"),
    )


def compression_ratio_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document DEFLATE compression ratio — the gibberish/
    template signal public pipelines use (e.g. the Dolma toolkit's
    gzip-ratio filter; CCNet-adjacent practice): highly repetitive
    boilerplate compresses far below prose, random noise barely
    compresses at all, so both tails of the ratio distribution are
    removal candidates.

    Arrow-batched ``mapInPandas`` over stdlib zlib (UTF-8 bytes,
    fixed ``level``) — no JVM round-trip per row, no Python
    row-at-a-time UDF. Determinism contract: byte-identical within
    one zlib build (every executor in a cluster ships the same
    runtime); ACROSS zlib versions only the ordering/magnitude is
    stable, which is why this surface is pytest-pinned (exact
    stdlib replay + repetitive << prose << noise ordering) instead of
    DuckDB-oracle-gated. Returns (id, raw_len, compressed_len,
    ratio) with ratio = compressed/raw rounded to 4 via the
    round-half-up fixed rule (0.0 for empty text). NULL text is
    missing text: raw_len 0, ratio 0.0 — never the literal string
    'None'. The id keeps the caller's ``id_col`` type (derived from
    the input schema), so string ids survive the Arrow stage."""
    import pandas as pd  # noqa: F811
    import zlib

    id_type = docs.schema[id_col].dataType.simpleString()

    def fn(batches):
        for pdf in batches:
            raw, comp = [], []
            for t in pdf[text_col].fillna(""):
                b = str(t).encode("utf-8")
                raw.append(len(b))
                comp.append(len(zlib.compress(b, level)))
            out = pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "raw_len": raw,
                    "compressed_len": comp,
                }
            )
            yield out

    res = docs.select(id_col, text_col).mapInPandas(
        fn, f"id {id_type}, raw_len long, compressed_len long"
    )
    ratio = F.when(
        F.col("raw_len") > 0, F.col("compressed_len") / F.col("raw_len")
    ).otherwise(F.lit(0.0))
    return res.select("id", "raw_len", "compressed_len",
                      round_fixed(ratio, 4).alias("ratio"))
