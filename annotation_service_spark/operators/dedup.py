"""Document deduplication operators for training-data pipelines.

Beyond-reference operators (SURVEY §7 step 9): exact hash dedup,
MinHash+LSH near-dup, SimHash near-dup, and exact n-gram Jaccard —
each designed for 100 TB corpora:

- features/shingles/minhashes are pure built-in expressions (md5,
  split, transform, aggregate — all JVM codegen, no Python);
- MinHash-LSH: the only shuffles are (band-key groupBy) + (candidate
  verify join), both keyed by content hashes — uniformly distributed,
  skew-free by construction;
- hash functions are md5-based and engine-portable, so every operator
  is differentially testable against a DuckDB oracle (the
  randomized-differential pattern of geolite2v2/geo-ip_test.go:123-203).

Determinism note: all "random" hash seeds are just integer prefixes
to md5 — no RNG, same output everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from annotation_service_spark.caching import scoped_cache
from annotation_service_spark.operators.banding import band_join, fingerprint_bands

TOKEN_SPLIT = "[^a-z0-9]+"


def tokens(text: Column) -> Column:
    """Lowercased alphanumeric tokens (engine-portable regex)."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda w: w != "")


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as space-joined strings."""
    w = tokens(text)
    if n == 1:
        return w
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    return F.when(
        F.size(w) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_grams(tok: DataFrame, k: int) -> DataFrame:
    """``(id, pos, tok)`` token rows to ``(id, pos, s)``: one row per
    complete k-token window, ``s`` the space-joined tokens from
    ``pos`` on — the rows of ``posexplode(word_ngrams(text, k))``.

    Window ``lead``s over the exploded tokens, NOT
    ``explode(word_ngrams(...))``: Spark re-evaluates a generator's
    child per emitted row and higher-order functions are interpreted,
    making that form O(n_grams²) per doc (measured 14s for 5k docs;
    this form is <2s and the window shuffle is keyed by doc id —
    scales out)."""
    if k == 1:
        return tok.select("id", "pos", F.col("tok").alias("s"))
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    # naming tok before pos makes the window's input (id, tok, pos), the
    # column order the shingle plans of the dedup gates were measured with
    return (
        tok.select(
            "id",
            "tok",
            "pos",
            F.concat_ws(" ", *parts).alias("s"),
            parts[-1].alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("id", "pos", "s")
    )


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: md5-hash groupBy keeping the smallest id. At scale
    this is one map-side-combinable shuffle on a uniform key."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, ngram: int, distinct: bool = True
) -> DataFrame:
    """(id, shingle) pairs — the feature relation shared by the
    minhash / jaccard / simhash paths (``distinct=True``, their set
    semantics) and the tf-idf path (``distinct=False``: one row per
    OCCURRENCE, so a downstream count gives tf)."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    out = token_grams(tok, ngram).select("id", "s")
    return out.distinct() if distinct else out


MOD_40 = 1 << 40


def cw_constants(i: int) -> tuple[int, int]:
    """Deterministic multiplicative-hash constants: a_i odd 20-bit,
    b_i 40-bit, derived from md5 so both engines can regenerate."""
    import hashlib

    a = int(hashlib.md5(f"mh_a{i}".encode()).hexdigest()[:5], 16) | 1
    b = int(hashlib.md5(f"mh_b{i}".encode()).hexdigest()[:10], 16)
    return a, b


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16, include_size: bool = False
) -> DataFrame:
    """Per-doc MinHash signature via multiplicative hashing: ONE md5
    per shingle supplies a 40-bit value h; family
    g_i = (a_i·h + b_i) mod 2^40 with fixed random-looking odd a_i.
    The product (≤2^60, no int64 overflow) wraps ~2^20 times, so each
    a_i induces a genuinely different ordering. One groupBy,
    `num_hashes` min-aggregates — map-side partial aggregation keeps
    the shuffle tiny regardless of corpus size; the md5 cost is paid
    once per shingle.

    NB two tempting families are NOT minhash-safe: h1 + i·h2 (the
    i·h2 term dominates — all positions share an argmin) and
    (a_i·h + b_i) mod p with p > a_i·h (no wrap → monotonic in h —
    again a shared argmin). Both collapse LSH recall to ~zero."""
    h = F.conv(F.substring(F.md5(F.col("s")), 1, 10), 16, 10).cast("long")
    base = shingles.select("id", h.alias("h"))
    # with include_size, the per-doc shingle count rides the SAME
    # groupBy — one shuffle supplies both the signature and the |A|
    # term of the Jaccard denominator (saves a whole aggregation pass
    # plus two re-join exchanges downstream).
    aggs = [F.count(F.lit(1)).alias("n")] if include_size else []
    for i in range(num_hashes):
        a, b = cw_constants(i)
        aggs.append(
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MOD_40)).alias(
                f"mh{i}"
            )
        )
    return base.groupBy("id").agg(*aggs)


def _minhash_banded_rows(
    sig: DataFrame, num_hashes: int, bands: int, extra_cols: list[str]
) -> DataFrame:
    """Shared banding block of the MinHash family: signature table →
    (id, *extra_cols, band, key) rows for ``band_join``, one per band,
    key = md5 of the band's rows_per_band minima (effectively
    unbounded keyspace)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [
            F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *parts)).alias("key"),
            )
        )
    return sig.select(
        "id", *extra_cols, F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", *extra_cols, "bb.band", "bb.key")


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Candidate-pair observability for MinHash LSH: the deduped
    (id_a, id_b) table the band-bucket equi-join produces BEFORE the
    exact-Jaccard verify. MinHash band keys are md5 digests of
    rows_per_band 40-bit minima — an effectively unbounded keyspace,
    so |candidates| tracks true near-dups at any corpus size (unlike
    fixed-width hyperplane/simhash bands). Count this to measure it;
    tests/test_candidate_bounds.py pins the bound on a planted-dup
    corpus."""
    sh = shingle_table(df, id_col, text_col, ngram)
    sig = scoped_cache(minhash_signatures(sh, num_hashes))
    return band_join(_minhash_banded_rows(sig, num_hashes, bands, []))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int | None = 16,
    bands: int | None = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, exact-verified.

    shingle → minhash (b bands × r rows) → band-bucket equi-join for
    candidates → exact Jaccard verification → pairs ≥ threshold.
    Returns (id_a, id_b, jaccard). With r=num_hashes/bands, candidate
    probability is 1-(1-j^r)^b (~0.9 at j=0.5 for 16/8).

    ``bands=None`` plans the banding from ``threshold`` via
    ``lsh_band_plan`` (MMDS S-curve): with ``num_hashes`` given, the
    best b >= 2, r >= 2 factorization of that budget; with
    ``num_hashes=None`` too, the free search picks the sharpest plan
    within tolerance and the signature size follows (b*r). Candidacy
    is one-sided approximation only — the exact-Jaccard verify runs
    either way — so planning affects recall, never precision.

    The verify accepts exactly the banded candidates whose exact
    Jaccard ≥ threshold, so a caller that already holds the exact
    pair set at the same parameters gets the same pair SET as
    ``minhash_candidates(...).join(exact, ["id_a", "id_b"])``.
    """
    if bands is None:
        bands, rows_per_band = lsh_band_plan(threshold, num_hashes=num_hashes)
        num_hashes = bands * rows_per_band
    elif num_hashes is None:
        raise ValueError(
            "num_hashes=None (size the signature from the band plan) is "
            "only meaningful with bands=None; pass bands=None to plan the "
            "banding from threshold, or give a concrete num_hashes"
        )
    sh = scoped_cache(shingle_table(df, id_col, text_col, ngram))
    sig = minhash_signatures(sh, num_hashes, include_size=True)

    # the per-doc shingle count n rides the band rows (2 extra longs
    # per row), so the Jaccard denominator needs NO extra aggregation
    # or re-join later — the sizes come out of the candidate join.
    cand = band_join(
        _minhash_banded_rows(sig, num_hashes, bands, ["n"]), carry=["n"]
    )

    common = (
        cand.join(sh.select(F.col("id").alias("id_a"), "s"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("s").alias("s2")), "id_b")
        .where(F.col("s") == F.col("s2"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.select(
            "id_a",
            "id_b",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


def _span_grams(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared span machinery: (token positions, k-gram table).

    ``tok`` is (id, pos, tok) from one posexplode; ``grams`` is
    (id, pos, gh) — the md5 of each window-assembled k-gram at every
    start position (lead() over the per-doc position window, one
    shuffle keyed by doc id).

    Both relations are lazy plans. Callers that read them from more
    than one plan leg ``scoped_cache`` them (guide §2.4/§5): the span
    consumers reference ``grams`` from two legs (the dup aggregate +
    the mark join-back) and ``tok`` from a third (the left_anti
    rebuild), so uncached each leg replays the regex tokenize +
    posexplode (+ the per-doc window for the gram legs) over the
    whole corpus.

    r13 measurement note (guide §1.1): the line family's
    carry-n-through-an-outer-explode + flag-join rebuild was tried
    here and MEASURED ~2x SLOWER (span_dedup_apply ~4.1 -> ~8.6 s
    cold at sf0.1): ``tokens()`` is a heavy regex split and the
    ``size(arr)`` rider re-evaluates it per row (no CSE across a
    Generate), while the flag-join feeds ALL token rows — covered
    ones included — through the collect_list reassembly instead of
    only survivors. The separate cheap base scan + left_anti shape
    stays deliberately."""
    from annotation_service_spark.partitioning import spread_underparallel

    # r14 (guide §2.5): the regex tokenize + posexplode feed the
    # per-doc window's exchange — on a one-row-group scan they run
    # single-core; spread first (no-op for already-parallel inputs)
    df = spread_underparallel(df)
    tok = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    grams = token_grams(tok, k).select("id", "pos", F.md5("s").alias("gh"))
    return tok, grams


def _span_tokens_and_marks(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """(token positions, marked span starts): ``marked`` is the
    (id, pos) of every k-gram occurrence whose gram appears >= twice
    corpus-wide (hash groupBy + equi-join — both shuffles keyed by
    content hash)."""
    tok, grams = _span_grams(df, id_col, text_col, k)
    tok, grams = scoped_cache(tok), scoped_cache(grams)
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("gh")
    )
    marked = grams.join(dup, "gh").select("id", "pos")
    return tok, marked


def shared_passage_anchors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_df: int | None = 1000,
) -> DataFrame:
    """The anchor stage of ``shared_passages``, exposed for candidate
    observability (the passage family's analog of
    minhash_candidates): every matching (pos_a, pos_b) k-gram pair
    between distinct documents after the ``max_df`` stop-gram cap,
    with the diagonal precomputed. Count this at successive corpus
    scales — anchors grow with true shared content (∝ run lengths),
    never quadratically, because only documents sharing a sub-cap
    gram ever meet. Returns (id_a, id_b, pa, pb, diag), id_a < id_b."""
    _tok, grams = _span_grams(df, id_col, text_col, k)
    g = grams
    if max_df is not None:
        g = cap_shingles(
            grams.select("id", "pos", F.col("gh").alias("s")), max_df
        ).select("id", "pos", F.col("s").alias("gh"))
    # r13 (guide §2.4): both legs of the anchor self-join consume the
    # SAME capped gram table — cache it so the tokenize+window gram
    # pipeline runs once, not once per leg (measured: 4 scans / 3
    # Window nodes in the shared_passages plan before).
    g = scoped_cache(g)
    a = g.select(F.col("id").alias("id_a"), F.col("pos").alias("pa"), "gh")
    b = g.select(F.col("id").alias("id_b"), F.col("pos").alias("pb"), "gh")
    return (
        a.join(b, "gh")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag")
        )
    )


def shared_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_tokens: int | None = None,
    max_df: int | None = 1000,
) -> DataFrame:
    """MAXIMAL shared token runs between document pairs, with
    positions — the pairwise evidence form of exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", ExactSubstr; public): not just THAT two docs
    share a duplicated passage (winnow_pairs) or WHICH positions are
    duplicated corpus-wide (span_dedup), but between WHOM, WHERE, and
    HOW LONG each maximal shared run is — contamination forensics,
    plagiarism attribution, boilerplate mining.

    Construction is pure equi-join + windows (no all-pairs, no
    per-pair text re-access): shared k-gram hash join gives matching
    (pos_a, pos_b) anchor pairs; a run of L consecutive matching
    anchors on one DIAGONAL (pos_a - pos_b constant) is exactly a
    shared substring of L + k - 1 tokens, so gaps-and-islands over
    pos_a within (id_a, id_b, diagonal) recovers every maximal run —
    the dot-plot diagonal trick from sequence alignment, as a window
    function. Returns (id_a, id_b, start_a, start_b, length) with
    id_a < id_b and length (in tokens) >= ``min_tokens``
    (default 2k-1: runs of at least two overlapping anchors, so a
    lone colliding k-gram doesn't report).

    Scale: the anchor join is the shingle equi-join shape — only docs
    sharing a gram meet; ``max_df`` stop-gram capping bounds the hot
    key fan-out. Capping splits runs THROUGH a beyond-cap gram (the
    run reports as two shorter runs) — maximality is exact for runs
    whose interior grams stay under the cap, the same honesty note as
    every capped pair family here: a run whose hot gram sits at its
    edge reports shorter, and an entirely-hot run has no anchors and
    does not report (raise ``max_df`` there)."""
    if min_tokens is None:
        min_tokens = 2 * k - 1
    anchors = shared_passage_anchors(df, id_col, text_col, k, max_df)
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = anchors.withColumn(
        "grp", F.col("pa") - F.row_number().over(w)
    )
    pieces = runs.groupBy("id_a", "id_b", "diag", "grp").agg(
        F.min("pa").alias("start_a"),
        F.min("pb").alias("start_b"),
        (F.max("pa") - F.min("pa") + k).alias("length"),
    )
    return (
        pieces.where(F.col("length") >= F.lit(min_tokens))
        .select("id_a", "id_b", "start_a", "start_b", "length")
    )


def remove_duplicate_spans_keep_first(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Keep-first variant of span-level dedup — the literal Lee et
    al. 2022 semantics ("remove all but ONE occurrence" of each
    duplicated passage), where ``remove_duplicate_spans`` removes
    EVERY occurrence (the decontamination-style total cut). The
    canonical survivor of each duplicated k-gram is its first corpus
    occurrence in (id, pos) order — deterministic under any
    partitioning because it is a min over values, not an encounter
    order — and only NON-canonical occurrences mark their spans for
    removal. One copy of every passage therefore survives; corpus
    token mass is preserved up to the duplicates themselves.

    Same output contract as remove_duplicate_spans:
    (id, n_tokens, n_kept, clean_text)."""
    tok, grams = _span_grams(df, id_col, text_col, k)
    tok, grams = scoped_cache(tok), scoped_cache(grams)
    # min_by struct: the gram's first (id, pos) corpus occurrence
    first = grams.groupBy("gh").agg(
        F.min(F.struct("id", "pos")).alias("f"),
        F.count(F.lit(1)).alias("cnt"),
    )
    marked = (
        grams.join(first.where(F.col("cnt") > 1), "gh")
        .where(
            (F.col("id") != F.col("f.id")) | (F.col("pos") != F.col("f.pos"))
        )
        .select("id", "pos")
    )
    return _rebuild_uncovered(df, id_col, text_col, tok, marked, k)


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """The APPLY step of span-level dedup (Lee et al. 2022 cut the
    duplicated spans out of the corpus rather than dropping whole
    documents): emit each document's NORMALIZED text (lowercased
    alphanumeric tokens, single-space joined) with every token that
    falls inside a duplicated k-token span removed.

    Returns (id, n_tokens, n_kept, clean_text); a fully-duplicated
    document comes back with n_kept=0 and empty clean_text.

    All built-in expressions: covered positions are
    explode(sequence(pos, pos+k-1)) -> distinct, removal is a
    left-anti join on (id, pos), reconstruction is
    concat_ws over array_sort(collect_list(struct(pos, tok))) — the
    struct sort orders by pos, so no per-group sort shuffle beyond
    the groupBy itself. Every shuffle is keyed by doc id or content
    hash, skew-free; nothing leaves the executors.
    """
    tok, marked = _span_tokens_and_marks(df, id_col, text_col, k)
    return _rebuild_uncovered(df, id_col, text_col, tok, marked, k)


def _rebuild_uncovered(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tok: DataFrame,
    marked: DataFrame,
    k: int,
) -> DataFrame:
    """Shared rebuild of the span-dedup apply step: expand marked
    span starts to covered positions, drop covered token rows
    (left_anti), reassemble per document, and recover
    fully-covered/empty docs via the cheap (id, n_tokens) base scan.
    (See _span_grams for why the flag-join/outer-explode alternative
    measured slower and was reverted.)"""
    covered = marked.select(
        "id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias(
            "pos"
        ),
    ).distinct()
    kept = tok.join(covered, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    return base.join(rebuilt, "id", "left").select(
        "id",
        "n_tokens",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def duplicate_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Substring-level exact dedup signal: per document, how many of
    its tokens sit inside a k-token span that occurs at least twice
    anywhere in the corpus (including elsewhere in the same document).

    This is the span-level duplication measure from Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"):
    document-level dedup misses boilerplate — headers, license
    blocks, templated paragraphs — repeated inside otherwise-unique
    documents; the removal/weighting signal is the fraction of tokens
    covered by duplicated spans. Returns
    (id, n_tokens, dup_tokens, dup_frac).

    Spark shape, designed for 100 TB:
    - token positions come from ONE posexplode; k-grams are
      ``token_grams`` (window ``lead`` per doc — never a per-row
      O(n²) generator);
    - "duplicated" is one groupBy on the gram hash (map-side
      combinable, uniform key) + one equi-join back on the same key —
      both shuffles are keyed by content hash, skew-free;
    - covered-token counting is the classic interval-union-of-
      equal-length-spans window: sorted marked positions p with
      successor p', each occurrence covers min(k, p'-p) new tokens —
      one window per doc id, no interval explode.
    """
    tok, marked = _span_tokens_and_marks(df, id_col, text_col, k)
    w2 = Window.partitionBy("id").orderBy("pos")
    cov = (
        marked.select(
            "id",
            F.least(
                F.lit(k),
                F.coalesce(F.lead("pos").over(w2) - F.col("pos"), F.lit(k)),
            ).alias("c"),
        )
        .groupBy("id")
        .agg(F.sum("c").alias("dup_tokens"))
    )
    ntok = df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    return ntok.join(cov, "id", "left").select(
        "id",
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.when(F.col("n_tokens") > 0,
               F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
               / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


HEX_DIGITS = "0123456789abcdef"


def _nibble_val(hexstr: Column, pos: int) -> Column:
    """hex char at 1-based pos → 0..15, portable (strpos trick)."""
    return F.instr(F.lit(HEX_DIGITS), F.substring(hexstr, pos, 1)) - 1


def simhash(text: Column, ngram: int = 3, bits: int = 60) -> Column:
    """SimHash over word n-gram features, pure built-in expressions.

    For each feature, md5 supplies ``bits`` pseudo-random bits (4 per
    hex nibble); per bit position we sum +1/-1 votes across features
    via one ``aggregate`` over the feature array, then assemble the
    fingerprint integer. JVM-side, no UDF; O(features × bits) work
    embarrassingly parallel per row.

    ``bits`` defaults to 60 — the widest fingerprint whose band
    weights 1<<(bits-1) stay positive in a signed 64-bit long (so
    shift/mask band extraction is sign-safe on both the Spark and
    DuckDB sides). Narrow fingerprints (e.g. 16 bits = 65,536
    distinct values) saturate at corpus scale: hamming ≤ 2 stops
    discriminating once millions of docs share each value.
    """
    feats = F.array_distinct(word_ngrams(text, ngram))
    hashes = F.transform(feats, lambda s: F.md5(s))
    nibbles = bits // 4

    def bit_of(h: Column, j: int) -> Column:
        nib = _nibble_val(h, j // 4 + 1)
        return F.shiftright(nib, 3 - (j % 4)).bitwiseAND(F.lit(1))

    def vote(j: int) -> Column:
        return F.aggregate(
            hashes, F.lit(0), lambda acc, h: acc + bit_of(h, j) * 2 - 1
        )

    votes = [vote(j) for j in range(bits)]
    out = F.lit(0).cast("long")
    for j, v in enumerate(votes):
        out = out + F.when(v > 0, F.lit(1 << (bits - 1 - j))).otherwise(0)
    # no features → no fingerprint (a featureless doc must not match
    # every other featureless doc at hamming 0)
    return F.when(F.size(feats) > 0, out)


_SIMHASH_LANE_BITS = 20  # bit-counter lane width inside one packed long
_SIMHASH_LANES = 3  # lanes per long: 3 x 20 = 60 bits, carry-safe in int64


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    bits: int = 60,
) -> DataFrame:
    """Scalable SimHash: explode distinct shingles → ONE conv() turns
    the md5 prefix into a ``bits``-bit int → per-bit vote COUNTS are
    lane-packed three-per-long (20-bit lanes) → one
    map-side-combinable groupBy sums ceil(bits/3) packed columns plus
    a feature count. Same fingerprints as the ``simhash`` column
    expression: bit j is set iff the +1 votes outnumber the -1 votes,
    i.e. 2·count_j > n_features (ties → 0, matching ``votes > 0``).

    Why this shape (r10, profiled at 100x docs = 500k docs): the
    previous form aggregated ``bits`` separate ±1 columns, each of
    whose expressions INLINED the md5→conv hash — Catalyst's
    subexpression elimination did not collapse the 60 copies, so the
    hash ran up to 60x per shingle row. Two fixes compound: (1) the
    hash value is pre-projected ONCE into its own column, (2) the ±1
    votes become bit COUNTS lane-packed three-per-long (20-bit
    lanes), cutting aggregation-buffer updates and shuffle width 3x.
    Measured: 57.7 s → 8.5 s for the fingerprint table (the simhash
    family's dominant stage). Output is bit-identical: bit j is set
    iff 2·count_j > n_features (ties → 0, matching ``votes > 0``).
    Lane capacity is 2^20-1 = 1,048,575 DISTINCT shingles per
    document; a document beyond that (≈ >4 MB of text) would overflow
    a lane, so the aggregate raises loudly (raise-rather-than-guess
    policy) instead of corrupting fingerprints — chunk such documents
    upstream (doc_chunks) first. Docs with no features are absent
    from the output.
    """
    lane = _SIMHASH_LANE_BITS
    lanes = _SIMHASH_LANES
    n_packs = (bits + lanes - 1) // lanes
    from annotation_service_spark.partitioning import spread_underparallel

    # r14 (guide §2.5): tokenize + explode + md5/conv + lane-packing
    # all run below the vote groupBy's exchange — on a one-row-group
    # scan that is one core (A/B: dedup_simhash cold 0.88x spread)
    df = spread_underparallel(df)
    sh = shingle_table(df, id_col, text_col, ngram)
    # hash pre-projected ONCE — inlining it into every vote expression
    # defeats CSE and re-runs md5/conv per bit (see docstring)
    vc = sh.select(
        "id",
        F.conv(F.substring(F.md5(F.col("s")), 1, bits // 4), 16, 10)
        .cast("long")
        .alias("v"),
    )

    def bit(j: int) -> Column:
        return F.shiftright(F.col("v"), bits - 1 - j).bitwiseAND(F.lit(1))

    packs = []
    for p in range(n_packs):
        expr = F.lit(0).cast("long")
        for m in range(lanes):
            j = p * lanes + m
            if j >= bits:
                break
            expr = expr + bit(j).cast("long") * F.lit(1 << (m * lane))
        packs.append(expr.alias(f"p{p}"))
    votes = vc.select("id", *packs)
    agg = votes.groupBy("id").agg(
        F.count(F.lit(1)).alias("nf"),
        *[F.sum(f"p{p}").alias(f"p{p}") for p in range(n_packs)],
    )
    # loud overflow valve: a lane saturates at 2^lane - 1 features
    guard = F.when(
        F.col("nf") >= F.lit(1 << lane),
        F.raise_error(
            F.format_string(
                "simhash_table: document %s has %s distinct shingles, "
                "beyond the packed-lane capacity of "
                f"{(1 << lane) - 1}; chunk it (doc_chunks) first",
                F.col("id").cast("string"),
                F.col("nf").cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col("nf"))
    sig = F.lit(0).cast("long")
    for p in range(n_packs):
        for m in range(lanes):
            j = p * lanes + m
            if j >= bits:
                break
            cnt = F.shiftright(F.col(f"p{p}"), m * lane).bitwiseAND(
                F.lit((1 << lane) - 1)
            )
            sig = sig + F.when(
                cnt * 2 > guard, F.lit(1 << (bits - 1 - j))
            ).otherwise(0)
    return agg.select("id", sig.alias("sh"))


def _simhash_band_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
    bits: int,
    bands: int,
    probe_bits: int,
) -> DataFrame:
    """Shared banding block of the SimHash family: fingerprint →
    band keys (shift+mask) → self-equi-join → deduped (id_a, id_b)
    candidates carrying both fingerprints (sh_a, sh_b) for the
    hamming verify. With ``probe_bits=1`` the LEFT
    side of the self-join also probes every band key within hamming
    1 of its own, so a pair is a candidate when SOME band differs by
    ≤ probe_bits bits — by pigeonhole that guarantees detection of
    every pair with total hamming ≤ bands·(probe_bits+1)−1 while the
    band keyspace stays the full 2^(bits/bands)."""
    sh = scoped_cache(simhash_table(df, id_col, text_col, ngram, bits))
    return band_candidates_from_fingerprints(sh, bits, bands, probe_bits)


def band_candidates_from_fingerprints(
    sh: DataFrame,
    bits: int,
    bands: int,
    probe_bits: int,
) -> DataFrame:
    """Generic banded candidate join over ANY (id, sh) fingerprint
    table (simhash, image phash, audio fingerprint): shift+mask band
    keys, multi-probe ``band_join``, deduped (id_a, id_b) pairs
    carrying both fingerprints, sh_a / sh_b, for a hamming verify."""
    band_arr = fingerprint_bands(F.col("sh"), bits, bands)
    banded = sh.select("id", "sh", F.explode(band_arr).alias("bb")).select(
        "id", "sh", "bb.band", "bb.key"
    )
    return band_join(banded, carry=["sh"], probe=(bits // bands, probe_bits))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 7,
    probe_bits: int = 1,
) -> DataFrame:
    """SimHash near-dup candidates via multi-probe band equi-join,
    verified with xor-popcount. Returns (id_a, id_b, hamming).

    Defaults are the scale-safe regime: 60-bit fingerprints / 4
    bands → 15-bit band keys (32,768 buckets per band) with
    hamming-1 band probing, so the self-join yields candidates ∝
    true near-dups AND pigeonhole guarantees every pair with total
    hamming ≤ bands·(probe_bits+1)−1 = 7 is caught — the hamming
    budget scales with fingerprint width (7 ≈ bits/8, the same
    ~88% bit-agreement contract the old 16-bit/hamming-2 form had).
    Narrow forms (bits=16, 4-bit keys → 16 buckets) are kept only as
    explicit oracle regimes — at corpus scale they produce ~n²/16
    pairs."""
    cand = _simhash_band_candidates(
        df, id_col, text_col, ngram, bits, bands, probe_bits
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


# hot shingles ``cap_shingles`` embeds as a broadcast literal before it
# falls back to a shuffle anti-join; read at call time
_HOT_SHINGLE_LIMIT = 100_000


def cap_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles with document frequency > ``max_df`` from an
    (id, s) shingle table — the stop-shingle cap that keeps one hot
    boilerplate shingle from fanning out df² candidate pairs on a
    single shuffle key. The hot set is usually tiny (it IS the skew),
    so the common path embeds it as a broadcast literal table —
    AQE-independent; the plan guard pins the broadcast anti-join.
    The pair operators' ``max_df`` applies it to their cached shingle
    table, so each consumer of the capped table replays only the
    broadcast anti-join, not the df aggregation.

    Size-gated, EAGER: a bounded ``limit(_HOT_SHINGLE_LIMIT+1)`` probe
    (one Arrow fetch of short strings) runs the df aggregation
    at CONSTRUCTION time. When the hot set fits, it becomes a driver
    literal — the aggregation runs exactly once for all downstream
    consumers (per-id sizes + both sides of the pair self-join) with
    no lingering ``.cache()`` to leak across invocations (r9 cached
    here and never unpersisted — every call accumulated a cached
    DataFrame for the session's lifetime). When the hot set exceeds
    ``_HOT_SHINGLE_LIMIT`` (a small max_df over a huge corpus), it falls back
    to a plain shuffle anti-join instead of force-broadcasting an
    oversized table."""
    hot_plan = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("s")
    )
    probe = hot_plan.limit(_HOT_SHINGLE_LIMIT + 1).toPandas()
    if len(probe) > _HOT_SHINGLE_LIMIT:
        # oversized hot set: shuffle anti-join (no broadcast hint)
        return sh.join(hot_plan, "s", "left_anti")
    spark = sh.sparkSession
    hot = spark.createDataFrame(probe, schema=sh.select("s").schema)
    return sh.join(F.broadcast(hot), "s", "left_anti")


def set_jaccard_pairs(
    sh: DataFrame, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """Exact all-pairs Jaccard over a distinct (id, s) set table via
    its equi-join on s (the join IS the blocking — only ids sharing an
    element ever meet). Returns (id_a, id_b, jaccard), id_a < id_b.
    The plan reads ``sh`` three times (sizes and both join sides), so
    pass a cached table.

    ``max_df`` caps the document frequency of join-eligible elements
    (the tfidf_shingle_pairs pattern): one hot shingle (boilerplate,
    a viral quote) otherwise fans out df² candidate pairs on a single
    shuffle key — the quadratic blob that kills the self-join at
    scale. With the cap, worst-case pairs per shingle ≤ max_df² and
    total candidates ∝ corpus × avg_df. Jaccard is then computed over
    the df ≤ max_df shingle space (sizes and intersections both) — a
    true Jaccard of the capped sets, so the semantics stay exact and
    engine-portable. None (default) keeps the uncapped ground-truth
    form for oracles and differential tests."""
    if max_df is not None:
        sh = cap_shingles(sh, max_df)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "s")
    b = sh.select(F.col("id").alias("id_b"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard: ``set_jaccard_pairs`` over the
    docs' cached shingle table (the non-approximate baseline). At
    100 TB prefer minhash_lsh_pairs; this is the ground-truth operator
    for differential testing and small corpora. A composite pipeline
    that caches the same shingle plan shares that one cache."""
    sh = scoped_cache(shingle_table(df, id_col, text_col, ngram))
    return set_jaccard_pairs(sh, threshold, max_df)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Directed near-CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over
    word-n-gram shingle sets. Catches the asymmetric dup family
    Jaccard misses — a short doc pasted inside a much longer one has
    C(short→long) ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0. The standard
    companion to symmetric near-dup in corpus curation (quote/boiler-
    plate absorption, excerpt pages, truncated mirrors).

    Returns (id_a, id_b, containment) with id_a ≠ id_b and
    C(A→B) ≥ threshold — DIRECTED, so a mutual exact twin emits both
    orientations; downstream keep-best logic usually drops id_a (the
    contained side) and keeps id_b.

    Scale: identical shape to ngram_jaccard_pairs — the shingle
    equi-join IS the blocking (only docs sharing a shingle meet), one
    shuffle keyed by shingle then one by (id_a, id_b); no cartesian.
    ``max_df`` (stop-shingle capping: drop shingles with df > cap
    from sizes and intersections alike) bounds the worst key's
    fan-out at 100 TB the same way it does for jaccard.
    """
    sh = scoped_cache(shingle_table(df, id_col, text_col, ngram))
    if max_df is not None:
        sh = cap_shingles(sh, max_df)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "s")
    b = sh.select(F.col("id").alias("id_b"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a"
        )
        .select(
            "id_a",
            "id_b",
            (F.col("common").cast("double") / F.col("na")).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PPJoin-style PREFIX FILTERING
    (Vernica/Carey/Li, "Efficient Parallel Set-Similarity Joins Using
    MapReduce", SIGMOD 2010; Xiao et al. PPJoin, WWW 2008 — public).
    LOSSLESS: returns exactly the rows ``ngram_jaccard_pairs`` does,
    same (id_a, id_b, jaccard) schema and identical double arithmetic
    (common / (na + nb - common)) — differential-tested and sharing
    the same DuckDB oracle.

    Why a second exact form, and when to use which (MEASURED at the
    bench's x100 block, 500k docs, quiet machine): the plain shingle
    equi-join's candidate count is THRESHOLD-INDEPENDENT — ~113M
    distinct pairs at max_df=1000 regardless of t — while the prefix
    filter's shrinks as t rises: 31.0M at t=0.5, 10.5M at t=0.7,
    4.35M at t=0.8 (26x fewer). On raw wall-clock the plain form
    still wins here (~30 s vs ~48-58 s at t=0.8): its per-candidate
    cost is one tiny row through a hash agg, whereas this form pays a
    df window-sort, a per-doc array build, and an array-attach verify
    join — structural overheads the candidate savings don't repay on
    this corpus shape (variants measured: groupBy+join df 78 s —
    worse than the window's sort; long-hash verify arrays 38 s —
    closer, still behind; candidate generation ALONE is ~20-34 s).
    Choose THIS form when the candidate product itself is the point:
    feeding an expensive verifier (edit distance, a model), exporting
    a blocking table, or memory-capping the verify stage. Choose
    ``ngram_jaccard_pairs`` for pure jaccard wall-clock at any
    threshold. The prefix filter replaces "count shared shingles for
    every pair that shares ANY shingle" with two bounded steps:

    1. CANDIDATES: order each doc's shingle set by ascending global
       document frequency (rarest first; ties by shingle value — a
       total, engine-portable order). A pair with J >= t must share at
       least ``ceil(t*n)`` shingles, so it must collide inside each
       side's first ``n - ceil(t*n) + 1`` shingles (pigeonhole). Only
       those PREFIX shingles enter the self-join — and by construction
       they are each doc's RAREST shingles, so per-key fan-out is tiny
       where the plain join's fan-out was df². A length filter
       (min(na,nb) >= t*max(na,nb), implied by J >= t) prunes inside
       the join before the distinct.
    2. VERIFY: each surviving candidate pair is ONE row — the exact
       intersection comes from ``array_intersect`` over the two docs'
       (deduplicated) shingle arrays, JVM-side, no per-shingle rows.

    Shuffle inventory at scale: window-count df on s (1 shuffle, same
    key as the plain join), groupBy id to build the ordered arrays
    (1), prefix self-join on s (1, rare keys only), candidate distinct
    (1, pair-keyed), two array-attach joins keyed by id (bounded by
    candidate count). Nothing driver-side, nothing all-pairs; the
    per-doc array row is ~shingle-set bytes (the same payload one
    text row already carries).

    ``max_df`` composes exactly as in ``ngram_jaccard_pairs``: the cap
    runs FIRST, then df-ordering/prefixes are computed over the capped
    space, so capped-Jaccard semantics (the pipeline_full regime) are
    preserved bit-for-bit.

    Prefix-length note: alpha = ceil(t*n) is computed as
    ``ceil(t*n - 1e-9)`` — the epsilon guards against binary-float
    representation of t pushing t*n an ulp ABOVE an exact integer
    (e.g. 0.3*10) and silently shortening the prefix (a missed-pair
    bug); under-shooting alpha only lengthens the prefix, which is
    always safe."""
    sh = shingle_table(df, id_col, text_col, ngram)
    if max_df is not None:
        sh = cap_shingles(sh, max_df)
    docs, cand = _prefix_docs_and_candidates(sh, threshold)
    ta = docs.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("ta"),
        F.col("n").alias("na"),
    )
    tb = docs.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("tb"),
        F.col("n").alias("nb"),
    )
    common = F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                common.cast("double")
                / (F.col("na") + F.col("nb") - common)
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def prefix_filter_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs of the prefix-filter join only —
    the observability hook the bench uses to measure how many pairs
    reach verification vs the plain shingle equi-join's candidate
    count (``jaccard_candidates_*`` in BENCH_DETAIL)."""
    sh = shingle_table(df, id_col, text_col, ngram)
    if max_df is not None:
        sh = cap_shingles(sh, max_df)
    return _prefix_docs_and_candidates(sh, threshold)[1]


def _prefix_docs_and_candidates(
    sh: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the prefix-filter join: from a distinct (id, s)
    shingle table, build ``docs`` = (id, n, toks) with toks the doc's
    shingles in canonical rarest-first (df asc, s asc) order, and
    ``candidates`` = distinct (id_a, id_b) pairs that collide on a
    prefix shingle and pass the length filter. See
    prefix_filter_jaccard_pairs for the pigeonhole argument and the
    alpha epsilon guard."""
    # global df per shingle via a window over s: same shuffle key the
    # candidate join needs anyway, no separate agg+join round trip
    dfc = F.count(F.lit(1)).over(Window.partitionBy("s"))
    # one groupBy id builds the canonical rarest-first shingle array
    # AND the set size; array_sort on struct<df,s> sorts by (df, s) —
    # a deterministic total order both engines can replay
    # r13 (guide §2.4): the ordered-array doc table feeds FOUR plan
    # legs (both prefix-explode sides + both verify attach sides) —
    # cache it so the df window + array groupBy run once, not four
    # times (measured: 8 Window nodes / 12 Exchanges in the
    # dedup_jaccard_prefix plan before, 4 scans of the corpus).
    docs = scoped_cache(
        sh.select("id", "s", dfc.alias("df"))
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "s"))).alias("ord"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "id", "n", F.transform("ord", lambda x: x["s"]).alias("toks")
        ),
    )
    alpha = F.ceil(F.col("n") * F.lit(threshold) - F.lit(1e-9))
    prefix_len = (F.col("n") - alpha + 1).cast("int")
    pre = docs.select(
        "id", "n", F.explode(F.slice("toks", F.lit(1), prefix_len)).alias("s")
    )
    a = pre.select(F.col("id").alias("id_a"), F.col("n").alias("na"), "s")
    b = pre.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "s")
    cand = (
        a.join(b, "s")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("na", "nb").cast("double")
                >= F.lit(threshold) * F.greatest("na", "nb")
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return docs, cand


def shingle_tf_table(
    df: DataFrame, id_col: str, text_col: str, ngram: int
) -> DataFrame:
    """(id, s, tf) — shingle TERM FREQUENCIES (occurrence counts per
    doc), the multiset feature relation the weighted-jaccard family
    consumes where the set family consumes ``shingle_table``. One
    groupBy over the occurrence rows; map-side combinable."""
    occ = shingle_table(df, id_col, text_col, ngram, distinct=False)
    return occ.groupBy("id", "s").agg(F.count(F.lit(1)).alias("tf"))


def weighted_set_jaccard_pairs(
    tf: DataFrame, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """Exact WEIGHTED Jaccard pairs over an (id, s, tf) term-frequency
    table: J_w(A,B) = Σ_s min(tf_A(s), tf_B(s)) / Σ_s max(tf_A(s), tf_B(s)).
    The standard multiset generalization of set Jaccard ("generalized
    Jaccard", e.g. Ioffe, ICDM 2010 — public): set Jaccard treats a
    phrase pasted 50 times the same as pasted once; the weighted form
    scores repetition-inflated near-dups (template spam, log spew,
    lyric loops) the way a curation pipeline needs. Returns
    (id_a, id_b, wjaccard), id_a < id_b.

    Denominator identity used (keeps one aggregation): Σ max = W_A +
    W_B − Σ min, with W = Σ tf the doc's total shingle count — so the
    plan is exactly the set-form shape: one shingle equi-join carrying
    two small ints, one pair groupBy summing min(tf), two broadcast-
    able weight attaches. Same blocking (only docs sharing a shingle
    meet), same ``max_df`` stop-shingle cap semantics (cap first, then
    weights/intersections over the capped space), same scale
    properties as ``set_jaccard_pairs``. The plan reads ``tf`` from
    three legs (the weight aggregate and both self-join sides), so
    pass a cached table."""
    if max_df is not None:
        # cap_shingles counts rows per s, which on a (id, s, tf) table
        # IS the document frequency (one row per doc containing s)
        tf = cap_shingles(tf, max_df)
    w = tf.groupBy("id").agg(F.sum("tf").alias("wt"))
    a = tf.select(F.col("id").alias("id_a"), "s", F.col("tf").alias("tfa"))
    b = tf.select(F.col("id").alias("id_b"), "s", F.col("tf").alias("tfb"))
    inter = (
        a.join(b, "s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("tfa", "tfb")).alias("i"))
    )
    return (
        inter.join(
            w.select(F.col("id").alias("id_a"), F.col("wt").alias("wa")),
            "id_a",
        )
        .join(
            w.select(F.col("id").alias("id_b"), F.col("wt").alias("wb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("i").cast("double")
                / (F.col("wa") + F.col("wb") - F.col("i"))
            ).alias("wjaccard"),
        )
        .where(F.col("wjaccard") >= threshold)
    )


def weighted_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact weighted n-gram Jaccard: ``weighted_set_jaccard_pairs``
    over the docs' cached ``shingle_tf_table``. Returns
    (id_a, id_b, wjaccard), id_a < id_b."""
    tf = scoped_cache(shingle_tf_table(df, id_col, text_col, ngram))
    return weighted_set_jaccard_pairs(tf, threshold, max_df)


def _capped_tf(tf: DataFrame, tf_cap: int) -> DataFrame:
    """(id, s, ctf): term frequencies clamped to ``tf_cap``."""
    return tf.select(
        "id",
        "s",
        F.least(F.col("tf"), F.lit(tf_cap)).cast("int").alias("ctf"),
    )


def _tf_expand(capped: DataFrame) -> DataFrame:
    """Integer-weight reduction: shingle s with capped frequency ctf
    becomes distinct elements "s#1".."s#ctf", so SET Jaccard of the
    expansion equals the capped WEIGHTED Jaccard. Tiny inner arrays
    (<= tf_cap), so explode(transform(sequence)) is safe here — the
    O(n_grams^2) generator trap shingle_table documents applies to
    per-doc-sized arrays, not <=8-element ones."""
    return capped.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("ctf")),
                lambda k: F.concat_ws("#", F.col("s"), k.cast("string")),
            )
        ).alias("s"),
    )


def weighted_minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    tf_cap: int = 8,
) -> DataFrame:
    """Candidate-pair observability for the weighted-MinHash family:
    the deduped (id_a, id_b) table the band-bucket equi-join over
    TF-EXPANDED signatures produces BEFORE the exact capped-weighted-
    Jaccard verify — the weighted twin of ``minhash_candidates``.
    Count it at successive corpus scales to MEASURE that the
    tf-expansion leaves the banded join sub-quadratic (bench records
    x10/x100; VERDICT r10 item 6)."""
    tf = shingle_tf_table(df, id_col, text_col, ngram)
    expanded = _tf_expand(_capped_tf(tf, tf_cap))
    sig = scoped_cache(minhash_signatures(expanded, num_hashes))
    return band_join(_minhash_banded_rows(sig, num_hashes, bands, []))


def weighted_minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    tf_cap: int = 8,
) -> DataFrame:
    """Weighted near-dup pairs at scale: MinHash over the TF-EXPANDED
    multiset (each shingle s with frequency tf becomes distinct
    elements "s#1".."s#min(tf, tf_cap)") + banded LSH + exact verify.
    For integer weights, set Jaccard of the expanded sets EQUALS the
    weighted Jaccard of the tf_cap-capped frequencies — the classic
    integer-weight reduction, so the whole set-MinHash machinery
    (signatures, banding, md5 portability) is reused verbatim.

    ``tf_cap`` bounds the expansion (a pathological doc repeating one
    shingle 10^6 times would otherwise blow up its row count); the
    measure computed is J_w over min(tf, tf_cap) — EXACT for corpora
    whose tf never exceeds the cap, a floor for ones that do (capped
    repetition can only raise similarity of repetition-inflated
    pairs... it clamps both min and max terms). Verification computes
    the same capped measure from the tf relation directly (no
    expanded rows cross the verify shuffle), so LSH candidacy is the
    only approximation — identical in kind to minhash_lsh_pairs.

    Returns (id_a, id_b, wjaccard), the capped weighted Jaccard,
    >= threshold. As in minhash_lsh_pairs, the verify accepts exactly
    the candidates in the exact capped-weighted pair set at the same
    parameters: that set joined to ``weighted_minhash_candidates``
    gives the same pair SET."""
    tf = scoped_cache(shingle_tf_table(df, id_col, text_col, ngram))
    capped = _capped_tf(tf, tf_cap)
    expanded = _tf_expand(capped)
    # include_size=True: n = count of expanded rows per doc = Σ ctf =
    # the capped total weight W — the denominator rides the signature
    # groupBy, exactly like the set form's size piggyback
    sig = minhash_signatures(expanded, num_hashes, include_size=True)
    cand = band_join(
        _minhash_banded_rows(sig, num_hashes, bands, ["n"]), carry=["n"]
    )
    inter = (
        cand.join(
            capped.select(F.col("id").alias("id_a"), "s", F.col("ctf").alias("tfa")),
            "id_a",
        )
        .join(
            capped.select(
                F.col("id").alias("id_b"),
                F.col("s").alias("s2"),
                F.col("ctf").alias("tfb"),
            ),
            "id_b",
        )
        .where(F.col("s") == F.col("s2"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.sum(F.least("tfa", "tfb")).alias("i"))
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            (
                F.col("i").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("i"))
            ).alias("wjaccard"),
        )
        .where(F.col("wjaccard") >= threshold)
    )


WINNOW_POS_BITS = 20  # packed-key position lane; docs must have < 2^20 grams


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS algorithm; public). Hash every token
    k-gram, slide a ``window``-wide window over the hash sequence,
    and select each window's MINIMUM hash (ties → rightmost). Output:
    (id, pos, h) — the selected fingerprints, ~2/(window+1) of all
    grams, with the paper's GUARANTEE: any shared token run of length
    >= window + k - 1 between two documents shares at least one
    selected fingerprint — position-aware local dedup evidence that
    global schemes (minhash: whole-doc similarity; mod-p selection:
    unbounded gaps) cannot give.

    Engine-portable selection trick: the rightmost-min tie-break
    packs into ONE integer key per gram, h * 2^POS_BITS +
    (2^POS_BITS - 1 - pos), so "min hash, tie -> max pos" is a plain
    BIGINT ``min`` over a ROWS window — identical semantics in Spark
    and the DuckDB oracle, no struct-ordering or argmin dialect
    differences. h is the 40-bit md5 prefix the minhash family uses
    (40 + 20 bits < 63, no overflow). Initial PARTIAL windows
    (pos < window-1) also emit their running min — a deterministic
    superset of the paper's full-window selection that both engines
    compute identically; short docs (< window grams) still
    fingerprint.

    Scale: one posexplode + per-doc window pass (shuffle keyed by
    doc id), one distinct — no joins; the fingerprint table is the
    ~25%-density sparse representation downstream pair stages join
    on. A document with >= 2^20 grams (~4 MB of text) RAISES rather
    than silently corrupting packed keys."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    grams = token_grams(tok, k)
    h = F.conv(F.substring(F.md5(F.col("s")), 1, 10), 16, 10).cast("long")
    pos_cap = 1 << WINNOW_POS_BITS
    key = F.when(
        F.col("pos") >= F.lit(pos_cap),
        F.raise_error(
            f"winnow_fingerprints: document with >= 2^{WINNOW_POS_BITS} "
            "grams overflows the packed position lane"
        ).cast("long"),
    ).otherwise(
        h * F.lit(pos_cap) + (F.lit(pos_cap - 1) - F.col("pos"))
    )
    keyed = grams.select("id", "pos", key.alias("key"))
    w_win = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(-(window - 1), 0)
    )
    sel = keyed.select(
        "id", F.min("key").over(w_win).alias("mk")
    ).distinct()
    # decode with integer ops only — float division of a 60-bit key
    # would lose mantissa precision past 2^53
    return sel.select(
        "id",
        (F.lit(pos_cap - 1) - (F.col("mk") % F.lit(pos_cap))).alias("pos"),
        F.shiftright(F.col("mk"), WINNOW_POS_BITS).alias("h"),
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowed fingerprint
    HASHES (the MOSS match score): (id_a, id_b, n_shared). Because
    winnowing guarantees a shared fingerprint for every shared run of
    >= window+k-1 tokens, n_shared lower-bounds the count of distinct
    long shared passages — cross-doc boilerplate/plagiarism evidence,
    not whole-doc similarity (that is the jaccard/minhash families').

    Same scale shape as every pair stage here: fingerprint equi-join
    on h (the ~25%-density table, so emissions are ~16x fewer than
    the raw shingle join at window=7), pair groupBy, ``max_df``
    stop-hash cap against boilerplate fan-out."""
    fp = winnow_fingerprints(df, id_col, text_col, k, window).select(
        "id", "h"
    ).distinct()
    if max_df is not None:
        fp = cap_shingles(fp.withColumnRenamed("h", "s"), max_df)
        fp = fp.withColumnRenamed("s", "h")
    # r13 (guide §2.4): both legs of the pair self-join consume the
    # SAME fingerprint table — cache it so the winnow window pipeline
    # runs once, not once per leg (measured: 4 scans / 4 Window nodes
    # in the plan before).
    fp = scoped_cache(fp)
    a = fp.select(F.col("id").alias("id_a"), "h")
    b = fp.select(F.col("id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Continuous-ingestion exact dedup: from an incoming batch, drop
    every row whose content hash already exists in the accumulated
    ``seen_hashes`` table (one column ``content_hash``), then dedup
    within the batch keeping the smallest id. The survivors (with
    their hashes) are what the caller appends back to the seen set —
    the batch twin of streaming_dedup's watermarked state, for the
    unbounded-horizon case where state lives in a table.

    Scale: the seen-set probe is a left-anti equi-join on the hash —
    uniform key, and Spark turns it into a broadcast anti-join while
    the seen set is small, degrading to shuffle cleanly. Within-batch
    dedup is one groupBy on the same key. The corpus text never
    shuffles twice: only (hash, id) pairs move.
    """
    h = new_docs.withColumn("content_hash", F.md5(F.col(text_col)))
    fresh = h.join(
        seen_hashes.select("content_hash"), "content_hash", "left_anti"
    )
    keep = fresh.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return keep.select(id_col, "content_hash")


def incremental_minhash_dedup(
    new_docs: DataFrame,
    seen_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Continuous-ingestion NEAR-dup dedup: the accumulated state is
    the MinHash SIGNATURE table (``seen_sigs``: id + mh0..mh{n-1} —
    num_hashes longs per seen doc, never the shingles), so state size
    is bounded and independent of document length. An incoming doc is
    dropped when (a) some band bucket collides with a seen doc AND
    the signature-match fraction (the standard unbiased Jaccard
    estimator: #{i: mh_i == seen_mh_i}/num_hashes) reaches
    ``threshold``, or (b) a smaller-id batch mate dominates it by the
    same criterion (pair-dominance — deterministic without a
    transitive-closure pass; feed survivors to dedup_clusters when
    family resolution is needed). Returns surviving (id, mh*) rows —
    exactly what the caller appends back to the state table.

    Scale: candidates come from the band-bucket equi-join (md5 band
    keys — unbounded keyspace, candidates ∝ true near-dups); the
    banded rows carry their signatures (bands × num_hashes longs per
    doc — ~1 KB at the defaults) so the estimator is an in-line
    filter on the collision rows and nothing but bounded-size
    signature metadata ever shuffles. The corpus text is read once
    (shingle → signature aggregation, map-side combinable)."""
    sh = shingle_table(new_docs, id_col, text_col, ngram)
    sig_new = scoped_cache(minhash_signatures(sh, num_hashes))
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    need = int(-(-threshold * num_hashes // 1))  # ceil(threshold·n)
    agree = F.lit(0)
    for c in mh_cols:
        agree = agree + F.when(F.col(f"{c}_a") == F.col(f"{c}_b"), 1).otherwise(0)
    is_dup = agree >= need

    # r13 (guide §2.4): the banded rows CARRY their signature (the
    # simhash_pairs sh_a / sh_b shape), so the dup decision is one band
    # equi-join + an in-line estimator filter + a tiny id distinct —
    # the r12 form shuffled band keys, distinct-ed the candidate
    # PAIRS, then re-joined both signature tables back on each side
    # (measured: 18 Exchanges / 6 SortMergeJoins at sf0.1, cut to a
    # third). A pair colliding in several bands now evaluates the
    # 16-term estimator once per collision instead of once per
    # distinct pair — trivially cheaper than the two shuffles it
    # replaces; the decision (and so the survivor set) is identical.
    seen = seen_sigs.select(F.col(id_col).alias("id"), *mh_cols)
    dup_vs_seen = band_join(
        _minhash_banded_rows(sig_new, num_hashes, bands, mh_cols),
        carry=mh_cols,
        other=_minhash_banded_rows(seen, num_hashes, bands, mh_cols),
        where=is_dup,
        out=[F.col("id_a").alias("id")],
    )
    # r14 (guide §2.4/§5): ``fresh`` feeds THREE plan legs — both
    # sides of the in-batch dominance self-join and the final
    # left_anti — and its lineage contains the whole vs-seen band
    # join; uncached, that pipeline re-executed per leg. The relation
    # is tiny (id + num_hashes longs per surviving doc), so cache it.
    fresh = scoped_cache(sig_new.join(dup_vs_seen, "id", "left_anti"))
    # in-batch pair dominance among the still-fresh rows: same
    # carried-signature band self-join (the two legs are identical
    # subtrees, so the exchange is planned once and reused)
    dominated = band_join(
        _minhash_banded_rows(fresh, num_hashes, bands, mh_cols),
        carry=mh_cols,
        where=is_dup,
        out=[F.col("id_b").alias("id")],
    )
    return fresh.join(dominated, "id", "left_anti").select("id", *mh_cols)


def lsh_band_plan(
    threshold: float, num_hashes: int | None = None, max_hashes: int = 256
) -> tuple[int, int]:
    """Choose (bands, rows_per_band) so the banded-LSH S-curve's
    50%-candidacy point sits at ``threshold`` (MMDS ch. 3, public:
    candidacy P(j) = 1 - (1 - j^r)^b crosses 1/2 near
    (1/b)^(1/r)). With ``num_hashes`` fixed, picks the b >= 2,
    r >= 2 factorization of b*r = num_hashes minimizing
    |(1/b)^(1/r) - threshold| — r=1 curves are linear (never sharp)
    and b=1 is no banding at all, so both degenerate factorizations
    are excluded and a prime/too-small ``num_hashes`` RAISES with a
    pick-a-composite hint, as does a best plan further than 0.25 from
    the target (same raise-not-far-off contract as the free search,
    with a wider bar because fixed budgets have sparse
    factorizations). Otherwise
    searches b*r <= max_hashes and, among plans within 0.02 of the
    target, returns the SHARPEST curve the budget allows (largest
    b*r, then deepest rows): a tiny plan like (b=2, r=1) can sit
    exactly on the 50% point while being nearly linear — sharpness,
    not signature size, is what separates dups from background; the
    caller caps the cost via num_hashes / max_hashes.

    Pure planning arithmetic (no Spark): feed the result to
    minhash_signatures/minhash_lsh_pairs. Raises on unreachable
    targets instead of silently returning a far-off curve."""
    if not (0.05 <= threshold <= 0.95):
        raise ValueError("threshold outside the plannable (0.05, 0.95) range")

    def crossing(b: int, r: int) -> float:
        return (1.0 / b) ** (1.0 / r)

    cands: list[tuple[float, int, int, tuple[int, int]]] = []
    if num_hashes is not None:
        for b in range(2, num_hashes + 1):
            if num_hashes % b == 0:
                r = num_hashes // b
                if r < 2:
                    continue  # r=1 curves are linear, never sharp
                cands.append(
                    (abs(crossing(b, r) - threshold), num_hashes, r, (b, r))
                )
        if not cands:
            raise ValueError(
                f"num_hashes={num_hashes} has no b>=2, r>=2 factorization "
                "(prime or < 4) — only degenerate linear/no-banding plans "
                "exist; choose a composite signature size (e.g. 16, 64)"
            )
        cands.sort(key=lambda t: t[0])
        if cands[0][0] > 0.25:
            b, r = cands[0][3]
            raise ValueError(
                f"best factorization of num_hashes={num_hashes} puts the "
                f"S-curve crossing at {crossing(b, r):.3f}, more than 0.25 "
                f"from threshold {threshold}; free the budget (num_hashes="
                "None) or pick a richer composite size"
            )
    else:
        for total in range(4, max_hashes + 1):
            for b in range(2, total + 1):
                if total % b == 0:
                    r = total // b
                    if r < 2:
                        continue  # r=1 curves are linear, never sharp
                    err = abs(crossing(b, r) - threshold)
                    if err <= 0.02:
                        cands.append((err, total, r, (b, r)))
        # sharpest within tolerance: largest signature, then deepest
        # rows, then smallest error
        cands.sort(key=lambda t: (-t[1], -t[2], t[0]))
    if not cands:
        raise ValueError(
            f"no b*r plan within tolerance of threshold {threshold}; "
            f"raise max_hashes (searched <= {max_hashes})"
        )
    return cands[0][3]
