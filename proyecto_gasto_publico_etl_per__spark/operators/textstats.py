"""Text-analysis operators for training-data pipelines.

Beyond reference parity (the reference's only text processing is
cleaning/labeling, SURVEY.md §2.10): language ID, quality scoring, token
counting, and document fingerprinting over a ``documents``-shaped table.

Everything is built-in column expressions — JVM-side, codegen-friendly, no
UDFs — so the operators scale linearly with executors at 100 TB.  All
expressions have exact DuckDB equivalents for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import clean_text

#: Tiny per-language stopword marker sets for the n-gram/stopword heuristic
#: language ID.  Matched as space-padded whole words over the cleaned,
#: lowercased, space-padded text.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "und", "die", "das", "nicht"),
    "fr": ("le", "et", "les", "des", "une"),
}

#: CJK unified ideographs — presence marks zh.
_CJK_PATTERN = "[\\u4e00-\\u9fff]"


def _padded(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(clean_text(col)), F.lit(" "))


def _count_occurrences(padded: Column, word: str) -> Column:
    """Occurrences of `` word `` via the length-difference trick —
    identical semantics in any engine with replace()/length()."""
    needle = f" {word} "
    # overlapping " a a a " cases: replace consumes the shared space, so
    # pad replacement with one space to keep counting consistent in both
    # engines (replace(" a a ", " a ", " ") -> " a " in Spark and DuckDB).
    return (
        F.length(padded)
        - F.length(F.regexp_replace(padded, F.lit(needle), F.lit(" ")))
    ) / (len(needle) - 1)


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language marker counts + CJK char count."""
    from ..sources.tables import fan_out

    padded = _padded(F.col(text_col))
    out = fan_out(df)
    for lang, words in LANG_MARKERS.items():
        score = None
        for w in words:
            c = _count_occurrences(padded, w)
            score = c if score is None else score + c
        out = out.withColumn(f"score_{lang}", score.cast("double"))
    c = F.coalesce(F.col(text_col), F.lit(""))
    return out.withColumn(
        "score_zh",
        (
            F.length(c) - F.length(F.regexp_replace(c, _CJK_PATTERN, ""))
        ).cast("double"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predicted language: argmax of marker scores, CJK dominant, ties
    broken by fixed language order (deterministic in any engine).

    The argmax is array_max over (score, -priority, lang) structs so each
    score expression appears exactly ONCE in the plan — a best-so-far
    CASE fold nests the running best twice per step, duplicating every
    score formula exponentially and blowing the generated method past
    the JVM limit once a filter inlines it (janino fallback)."""
    scored = lang_scores(df, text_col)
    langs = ["zh", *LANG_MARKERS.keys()]
    candidates = F.array(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("s"),
                F.lit(-i).alias("npri"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    return scored.withColumn("lang_pred", F.array_max(candidates)["lang"])


def token_count(col: Column | str) -> Column:
    """Whitespace token count; 0 for empty/null text."""
    cleaned = clean_text(col)
    return F.when(F.length(cleaned) == 0, F.lit(0)).otherwise(
        F.size(F.split(cleaned, " "))
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: word chars in runs of ≤4 plus standalone
    non-space symbols — a cheap, deterministic BPE proxy:
    count of matches of ``\\w{1,4}|[^\\w\\s]``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(F.coalesce(c, F.lit("")), F.lit(r"\w{1,4}|[^\w\s]"), 0)
    )


def quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring signals: char/token counts, mean token length,
    punctuation & stopword & uppercase ratios, and a composite flag.

    CONSUMER HAZARD: filtering directly on these output columns lets the
    optimizer push the predicate below ``fan_out``'s exchange, inlining
    this whole chain into a scan-partition filter — past the janino
    method limit it runs interpreted on the file's 1-2 scan partitions
    (12× measured).  Project the flag columns and ``localCheckpoint``
    BEFORE any ``where`` on them (see corpus_clean_final).
    """
    from ..sources.tables import fan_out

    df = fan_out(df)
    c = F.col(text_col)
    cleaned = clean_text(c)
    n_chars = F.length(cleaned)
    n_tokens = token_count(c)
    padded = _padded(c)
    stop = None
    for w in LANG_MARKERS["en"]:
        cnt = _count_occurrences(padded, w)
        stop = cnt if stop is None else stop + cnt
    n_punct = F.length(cleaned) - F.length(
        F.regexp_replace(cleaned, r"[^\w\s]", "")
    )
    n_upper = F.length(cleaned) - F.length(
        F.regexp_replace(cleaned, r"[A-Z]", "")
    )
    safe_tokens = F.when(n_tokens > 0, n_tokens.cast("double"))
    safe_chars = F.when(n_chars > 0, n_chars.cast("double"))
    # ratios stay as raw double divisions of exact integers — identical
    # bits in any engine (round() implementations differ across engines)
    out = (
        df.withColumn("n_chars_clean", n_chars.cast("bigint"))
        .withColumn("n_tokens", n_tokens.cast("bigint"))
        .withColumn(
            "mean_token_len",
            F.coalesce(
                (n_chars - (n_tokens - 1)).cast("double") / safe_tokens,
                F.lit(0.0),
            ),
        )
        .withColumn(
            "punct_ratio",
            F.coalesce(n_punct.cast("double") / safe_chars, F.lit(0.0)),
        )
        .withColumn(
            "upper_ratio",
            F.coalesce(n_upper.cast("double") / safe_chars, F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio",
            F.coalesce(stop.cast("double") / safe_tokens, F.lit(0.0)),
        )
    )
    return out.withColumn(
        "quality_ok",
        (F.col("n_tokens") >= 5)
        & (F.col("mean_token_len") >= 2)
        & (F.col("mean_token_len") <= 12)
        & (F.col("punct_ratio") <= 0.3),
    )


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the cleaned, lowercased text —
    the exact-dup key (cross-engine stable)."""
    return F.md5(F.lower(clean_text(col)))


def shingle_fingerprint(col: Column | str, n: int = 8) -> Column:
    """Rolling-hash-style content fingerprint: minimum 32-bit hash over
    character ``n``-gram shingles of the cleaned lowercase text (winnowing
    with window = whole doc).  Robust to local edits, engine-portable
    (md5-prefix hashing, functions/hashing.py)."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.lower(clean_text(c))
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(cleaned) - (n - 1), F.lit(1))
    )
    grams = F.transform(starts, lambda i: F.substring(cleaned, i, n))
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint"),
    )
    return F.array_min(hashes)


def winnow_fingerprints(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
):
    """Windowed winnowing (the MOSS scheme, Schleimer et al. 2003):
    hash every character ``k``-gram, slide a window of ``w`` consecutive
    hashes, keep each window's minimum — any shared substring of length
    ≥ ``w + k - 1`` between two docs is GUARANTEED to surface as a
    shared fingerprint, while the sketch stays ~|doc|/w.

    Returns the exploded (doc, fp) posting list (distinct per doc).
    Map-only per-row array expressions (no UDF); md5-prefix hashes keep
    it engine-portable.  ``shingle_fingerprint`` is the degenerate
    window=whole-doc variant.

    The k-gram hash array is materialized as its OWN projection before
    the window pass: referencing the ``hashes`` expression directly
    inside the window lambda recomputes all |doc| md5s for every one of
    the ~|doc| windows (no common-subexpression elimination across
    higher-order-function lambdas) — an O(|doc|²) blowup measured at
    42× on the sf0.01 corpus.  Two chained selects stay two physical
    projections because CollapseProject refuses to inline an expensive
    alias referenced more than once (verified: one ``md5`` in the
    optimized plan).
    """
    from ..sources.tables import fan_out

    c = F.col(text_col)
    cleaned = F.lower(clean_text(c))
    n_kgrams = F.greatest(F.length(cleaned) - (k - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(1), n_kgrams),
        lambda i: F.conv(
            F.substring(F.md5(F.substring(cleaned, i, k)), 1, 8), 16, 10
        ).cast("bigint"),
    )
    hashed = fan_out(df).select(
        F.col(id_col).alias("doc"), hashes.alias("_h")
    )
    n_windows = F.greatest(F.size("_h") - (w - 1), F.lit(1))
    wins = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda j: F.array_min(F.slice(F.col("_h"), j, w)),
    )
    return hashed.select(
        "doc", F.explode(F.array_distinct(wins)).alias("fp")
    )


# --- PII redaction -----------------------------------------------------------

#: portable regexes (same semantics in Java regex and RE2/DuckDB): emails
#: and long digit runs (phone/account numbers)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
DIGITS_RE = r"[0-9]{7,}"


def redact_pii(col: Column | str) -> Column:
    """Scrub obvious PII from text: emails → <EMAIL>, 7+-digit runs →
    <NUM>.  Pure regexp_replace — JVM-side, codegen'd, no UDF — so it runs
    at scan speed over a 100 TB corpus."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, DIGITS_RE, "<NUM>")


def repetition_stats(df, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document repetition ratio over word bigrams (with multiplicity)
    — the Gopher/C4-style quality signal: highly repetitive documents
    (boilerplate, keyword stuffing, template spam) have few DISTINCT
    bigrams relative to their total.

    repetition = 1 - n_distinct_bigrams / n_bigrams  (0 for docs with
    fewer than two tokens).  Pure integer counts with one final double
    division — engine-reproducible; map-only, no shuffle.
    """
    from ..sources.tables import fan_out
    from .dedup import _tokens

    df = fan_out(df)
    toks = _tokens(text_col)
    width = F.size(toks) - 1
    grams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, width),
            F.slice(toks, 2, width),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = df.select(
        F.col(id_col).alias("doc"), grams.alias("grams")
    ).select(
        "doc",
        F.size("grams").cast("long").alias("n_bigrams"),
        F.size(F.array_distinct("grams")).cast("long").alias("n_distinct"),
    )
    return out.withColumn(
        "repetition",
        F.when(
            F.col("n_bigrams") > 0,
            F.lit(1.0)
            - F.col("n_distinct").cast("double")
            / F.col("n_bigrams").cast("double"),
        ).otherwise(F.lit(0.0)),
    )


def suppress_small_groups(
    df,
    group_cols: list[str],
    k: int = 5,
    count_col: str = "__n",
):
    """Statistical-disclosure suppression: drop every row whose group
    has fewer than ``k`` rows — the primary-suppression rule public
    agencies apply before publishing aggregates (a cell of 2 records
    identifies its members).  The reference publishes MEF aggregates
    with no such gate; serving views composed over this are safe to
    expose at any grain.

    One window count per group (no join, no second scan); at scale the
    count rides the same hash partitioning the downstream group-by
    needs, so AQE usually fuses the exchanges.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols)
    return (
        df.withColumn(count_col, F.count("*").over(w))
        .where(F.col(count_col) >= k)
        .drop(count_col)
    )


def chi2_source_drift(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_v: int = 200,
) -> DataFrame:
    """Pearson χ² drift score of each group's token distribution against
    the corpus — the distribution-shift monitor a multi-source training
    pipeline runs per ingest batch (a spiking χ² for one source flags a
    crawler regression, template flood, or domain shift before it skews
    the mixture).

    Statistic: over the corpus-wide top-``top_v`` tokens (deterministic
    cut: count desc, token asc — the zipf_slope distributed-top-k
    discipline), ``χ²(s) = Σ_t (o_st − e_st)²/e_st`` with
    ``e_st = n_s·c_t/N``, all counts restricted to the top-V universe so
    observed and expected marginals agree.  Zero cells are materialized
    (a group missing a common token contributes ``e_st``) via the
    bounded |groups|×V generated matrix.

    Exactness: counts are BIGINT; each χ² term is a deterministic IEEE
    double chain over those exact integers (bit-identical across
    engines — the trend_sector_monthly rule), quantized to micros
    BEFORE summation so the per-group sum is an exact integer and
    aggregation order cannot drift.

    Scale shape: one explode → (group, token) hash agg (map-side
    combinable), a vocab-sized re-agg, a distributed top-V cut
    (TakeOrderedAndProject), then everything downstream operates on the
    bounded |groups|×V matrix — nothing corpus-sized crosses a second
    shuffle.

    Returns ``(group, n_tokens, chi2_micro)`` — ``n_tokens`` the
    group's token mass within the top-V universe, ``chi2_micro`` the
    χ² statistic in exact micro units.
    """
    from ..operators.dedup import _tokens
    from pyspark.sql import Window

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(_tokens(text_col)).alias("tok"),
    ).filter(F.col("tok") != "")
    oc = toks.groupBy("grp", "tok").agg(F.count("*").alias("o"))
    gc = oc.groupBy("tok").agg(F.sum("o").alias("c"))
    topv = gc.orderBy(F.desc("c"), "tok").limit(top_v)
    # N rides on the bounded top-V frame (no scalar cross join)
    full = Window.orderBy("tok").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tv = topv.withColumn("N", F.sum("c").over(full))
    groups = df.select(F.col(group_col).alias("grp")).distinct()
    # bounded |groups| × V matrix with explicit zero cells
    mat = (
        groups.crossJoin(F.broadcast(tv))
        .join(oc, ["grp", "tok"], "left")
        .fillna({"o": 0})
    )
    ns = mat.groupBy("grp").agg(F.sum("o").alias("n_s"))
    e = (
        F.col("n_s").cast("double")
        * F.col("c").cast("double")
        / F.col("N").cast("double")
    )
    d = F.col("o").cast("double") - e
    # n_s == 0 ⇒ e == 0 for every cell of that group (a source whose docs
    # are empty or share no top-V tokens).  χ² is 0 by the same convention
    # chi2_against_reference uses for n_b == 0; without the guard ANSI
    # mode raises DIVIDE_BY_ZERO on degenerate ingest data.
    term_q6 = F.when(F.col("n_s") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(d * d / e * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    )
    return (
        mat.join(ns, "grp")
        .withColumn("_t", term_q6)
        .groupBy("grp", "n_s")
        .agg(F.sum("_t").cast("long").alias("chi2_micro"))
        .select(
            F.col("grp").alias(group_col),
            F.col("n_s").cast("long").alias("n_tokens"),
            "chi2_micro",
        )
    )


def token_distribution(
    df: DataFrame, text_col: str = "text", top_v: int = 200
) -> DataFrame:
    """Corpus-wide reference token distribution: the top-``top_v`` tokens
    with their counts and the universe total — ``(tok, c, N)``.

    This is the freezable model artifact the drift monitor scores
    against (persist it beside the corpus like the IVF centroids /
    SQ8 min-max artifacts; V rows, broadcast-sized by construction).
    Deterministic cut: count desc, token asc.
    """
    from ..operators.dedup import _tokens
    from pyspark.sql import Window

    toks = df.select(F.explode(_tokens(text_col)).alias("tok")).filter(
        F.col("tok") != ""
    )
    gc = toks.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    topv = gc.orderBy(F.desc("c"), "tok").limit(top_v)
    full = Window.orderBy("tok").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return topv.withColumn("N", F.sum("c").over(full))


def chi2_against_reference(
    df: DataFrame, ref: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Goodness-of-fit χ² of ``df``'s token distribution against a
    frozen reference distribution (``token_distribution`` output).

    Unlike ``chi2_source_drift`` (groups vs their own corpus), the
    reference here is EXTERNAL and frozen, so an arriving batch can be
    scored without touching the corpus: one batch tokenize + hash agg,
    then everything else happens on the broadcast V-row reference
    frame.  Same exactness discipline: IEEE double terms over exact
    BIGINT counts, micro-quantized before the sum.

    Returns one row ``(n_tokens, chi2_micro)``; ``n_tokens`` = the
    batch's token mass within the reference universe (0 mass → χ² 0 by
    convention, flagged by ``n_tokens = 0`` itself).
    """
    from ..operators.dedup import _tokens
    from pyspark.sql import Window

    toks = df.select(F.explode(_tokens(text_col)).alias("tok")).filter(
        F.col("tok") != ""
    )
    oc = toks.groupBy("tok").agg(F.count("*").cast("long").alias("o"))
    full = Window.orderBy("tok").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mat = (
        ref.join(oc, "tok", "left")
        .fillna({"o": 0})
        .withColumn("n_b", F.sum("o").over(full))
    )
    e = (
        F.col("n_b").cast("double")
        * F.col("c").cast("double")
        / F.col("N").cast("double")
    )
    d = F.col("o").cast("double") - e
    term_q6 = F.when(F.col("n_b") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(d * d / e * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    )
    return (
        mat.withColumn("_t", term_q6)
        .groupBy()
        .agg(
            F.coalesce(F.max("n_b"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias(
                "chi2_micro"
            ),
        )
    )
