"""Deduplication operators for training-data pipelines.

Five dedup families over a ``documents``-shaped table (id + text) and an
``embeddings``-shaped table (id + vector):

- exact:          md5 of normalized text, keep lowest id per group
- n-gram Jaccard: word-shingle set overlap, all candidate pairs ≥ threshold
- MinHash + LSH:  md5-derived minhash signatures, banded bucketing, verify
- SimHash:        32-bit sign-aggregated token hashes, Hamming ≤ k pairs
- embedding:      cosine ≥ threshold near-dup pairs (see similarity.py)

Scale design (100 TB): every stage is shuffle-bounded by keys that shrink
the data (hash groups, shingle postings, LSH buckets) — never an all-pairs
product.  The n-gram all-pairs verifier is only applied to candidate sets
(LSH buckets or posting intersections).  Hashing is md5-prefix based
(functions/hashing.py) so signatures are reproducible in any engine.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import clean_text
from ..sources.tables import fan_out
from .textstats import fingerprint
from .skew import pin

log = logging.getLogger(__name__)

# --- exact -------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by normalized-text hash: one row per distinct content,
    keeping the lowest id (deterministic canonical representative)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


# --- word n-gram shingles ----------------------------------------------------


def _tokens(text_col: str) -> Column:
    cleaned = F.lower(clean_text(text_col))
    return F.when(F.length(cleaned) == 0, F.array()).otherwise(
        F.split(cleaned, " ")
    )


def word_grams(text_col: str, n: int) -> Column:
    """Word n-grams of the normalized text WITH multiplicity (the LM
    count-table / repetition-stats form; ``word_shingles`` is the
    distinct set-semantics variant).

    Built as ``n-1`` ``zip_with`` passes over shifted slices of the token
    array (``toks[i] ⊕ toks[i+1] ⊕ …``): each pass is one O(L) sweep with
    a cheap string concat per element.  The naive per-start
    ``transform(i -> concat_ws(slice(toks, i, n)))`` allocates a sub-array
    per shingle inside an interpreted higher-order lambda and measured ~8×
    slower on the documents corpus.

    Guarded for short docs: every slice is length ``L-(n-1)`` which only
    exists when the doc has ≥ n tokens.
    """
    return _grams_from_tokens(_tokens(text_col), n)


def _grams_from_tokens(toks: Column, n: int) -> Column:
    """``word_grams`` over an already-tokenized array column — gram at
    0-based index i covers tokens i+1 … i+n (1-based)."""
    width = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, width)
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, width)
        grams = F.zip_with(
            grams, shifted, lambda acc, t: F.concat(acc, F.lit(" "), t)
        )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (the dedup /
    Jaccard set form of ``word_grams``)."""
    return F.array_distinct(word_grams(text_col, n))


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, distinct shingle array) — the per-doc set both the posting
    join and the candidate verifier derive from.  ``fan_out``: the
    clean/split/zip_with shingle chain is the dominant per-row cost and
    must not run on a single small row group's 1-2 scan partitions."""
    df = fan_out(df)
    return df.select(
        F.col(id_col).alias("doc"),
        word_shingles(text_col, n).alias("shingles"),
    )


def verify_pairs_jaccard(cands: DataFrame, shingled: DataFrame) -> DataFrame:
    """Exact Jaccard for CANDIDATE pairs only: join each pair side to its
    shingle set, intersect per pair (``array_intersect`` of two distinct
    arrays counts distinct common shingles, exactly the posting join's
    ``n_common``).  Two doc-keyed equi-joins — verification cost stays
    proportional to |candidates|, never to the corpus posting list.

    Jaccard is exact rational arithmetic until one final double division,
    so thresholding is engine-reproducible (no round()).
    """
    sa = shingled.select(
        F.col("doc").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingled.select(
        F.col("doc").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (
                F.size("sh_a").cast("long")
                + F.size("sh_b")
                - F.col("n_common")
            ).cast("double"),
        )
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word-``n``-gram Jaccard ≥ ``threshold``.

    Posting-list self-join: explode (doc, shingle), join on shingle to count
    intersections, combine with per-doc shingle counts for the union.  The
    shuffle key is the shingle, so common-shingle skew is the scale hazard.

    ``max_df`` is the scale path: shingles appearing in more than ``max_df``
    documents are dropped from CANDIDATE GENERATION (a stop-shingle cap —
    ultra-common shingles contribute quadratically many candidate rows),
    and every surviving candidate pair is then verified with exact Jaccard
    over the FULL shingle sets (``verify_pairs_jaccard``), so reported
    values are unchanged.  Only pairs whose entire overlap is capped
    shingles are missed — the standard recall trade documented for
    posting-list dedup at corpus scale.
    """
    shingled = _shingle_sets(df, id_col, text_col, n)
    if not df.isStreaming:
        # the capped path references the shingle sets THREE times (df
        # counts, candidate postings, per-pair verification) and the
        # uncapped path twice (posting self-join + the size lookups);
        # Spark does no common-subplan reuse across DataFrame
        # references, so materialize the clean/split/shingle chain once.
        # Lazy for the uncapped path (optimization r15 — plan build
        # stays job-free); the capped path keeps its eager barrier (the
        # measured round-5 janino-limit fix depends on the profile
        # materializing before the filter).
        shingled = pin(shingled, eager=max_df is not None)
    postings = shingled.select(
        "doc", F.explode("shingles").alias("shingle")
    )
    if max_df is not None:
        rare = (
            postings.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_df)
            .select("shingle")
        )
        capped = postings.join(rare, "shingle")
        a, b = capped.alias("a"), capped.alias("b")
        cands = (
            a.join(b, on="shingle")
            .where(F.col("a.doc") < F.col("b.doc"))
            .select(
                F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
            )
            .distinct()
        )
        return verify_pairs_jaccard(cands, shingled).where(
            F.col("jaccard") >= threshold
        )
    sizes = shingled.select(
        "doc", F.size("shingles").alias("n_shingles")
    )
    a, b = postings.alias("a"), postings.alias("b")
    common = (
        a.join(b, on="shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(
        F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    pairs = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        # exact-int division to double: identical bits in any engine (no
        # round(), whose half-up implementations differ across engines)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (
                F.col("size_a") + F.col("size_b") - F.col("n_common")
            ).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return pairs.select("doc_a", "doc_b", "n_common", "jaccard")


# --- MinHash + LSH -----------------------------------------------------------


def _portable_hash(col: Column, seed: Column | int) -> Column:
    """Engine-portable 32-bit hash of (seed, value) — md5-prefix based."""
    seed_col = F.lit(seed) if isinstance(seed, int) else seed
    return F.conv(
        F.substring(
            F.md5(F.concat(seed_col.cast("string"), F.lit("|"), col)), 1, 8
        ),
        16,
        10,
    ).cast("bigint")


#: Knuth multiplicative constant for deriving seeded hash variants.
_MIX = 2_654_435_761
_MOD = 1 << 32


def _seeded_mix(h: Column, seed: Column) -> Column:
    """Seed variant of a base 32-bit hash via an odd-multiplier affine map
    mod 2^32 — a bijection per seed, so per-seed minima stay independent
    enough for MinHash while the expensive md5 runs ONCE per shingle, not
    once per (shingle, seed).  Pure 64-bit integer arithmetic (no
    overflow: h < 2^32, multiplier < 2^6, offset < 2^37), reproduced
    exactly by the DuckDB oracle."""
    return (h * (seed * 2 + 1) + seed * F.lit(_MIX)) % F.lit(_MOD)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """(doc, seed) → minhash: min over shingles of the seeded hash.

    One narrow explode + one hash-agg; the shuffle key (doc, seed) has
    bounded cardinality num_docs × num_hashes.  The portable md5 hash is
    computed once per (doc, shingle); the ``num_hashes`` seeded variants
    derive from it by integer mixing (``_seeded_mix``) — 16× fewer md5
    evaluations, the dominant cost of signature building.

    ``shingled``: optional precomputed ``_shingle_sets`` frame
    (optimization r15) — callers that ALSO need the shingle sets (the
    LSH verify path) pass their materialized frame so the clean/split/
    zip_with shingle chain runs once per query instead of once per
    reference.  ``word_shingles`` is already distinct-set semantics, so
    exploding the set frame is expression-for-expression identical.
    """
    base = (
        shingled
        if shingled is not None
        else _shingle_sets(df, id_col, text_col, n)
    )
    hashed = base.select(
        "doc", F.explode("shingles").alias("shingle")
    ).select("doc", _portable_hash(F.col("shingle"), 0).alias("h"))
    seeds = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed")
    return (
        hashed.select("doc", "h", seeds)
        .groupBy("doc", "seed")
        .agg(F.min(_seeded_mix(F.col("h"), F.col("seed"))).alias("minhash"))
    )


def band_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(doc, band, band_sig): md5 of each ordered minhash band slice —
    the LSH bucket key of the candidate join.

    ``sigs``: optional precomputed ``minhash_signatures`` frame (see
    there) — avoids re-deriving the signature chain when the caller
    already holds it materialized."""
    rows_per_band = num_hashes // bands
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
    banded = sigs.withColumn(
        "band", (F.col("seed") / rows_per_band).cast("int")
    )
    return banded.groupBy("doc", "band").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seed", "minhash"))
                    ),
                    lambda s: s["minhash"].cast("string"),
                ),
                ",",
            )
        ).alias("band_sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band signature.

    Band signature = md5 of the ordered minhash slice; docs bucket-join on
    (band, signature) — never an all-pairs product.  rows_per_band =
    num_hashes // bands tunes the Jaccard threshold curve
    (s-curve ≈ (1/bands)^(1/rows_per_band)).

    ``sigs``: optional precomputed signature frame, forwarded to
    ``band_signatures`` (optimization r15).
    """
    band_sigs = band_signatures(
        df, id_col, text_col, n, num_hashes, bands, sigs=sigs
    )
    a, b = band_sigs.alias("a"), band_sigs.alias("b")
    return (
        a.join(b, on=["band", "band_sig"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: bucket candidates, then verify ONLY
    those candidate pairs with exact n-gram Jaccard (no false positives;
    false negatives bounded by the band s-curve).

    Verification is candidate-scoped (``verify_pairs_jaccard``): the LSH
    candidates join to the per-doc shingle sets and intersect per pair —
    the corpus-wide posting self-join never runs, so the LSH stage's
    pruning is what the whole pipeline costs at 100 TB.

    Shared-subtree materialization (optimization r15): the clean/split/
    zip_with shingle chain feeds BOTH the signature build and the
    verifier, and the band-signature frame feeds both sides of the
    candidate self-join; Spark re-expands each DataFrame reference, so
    without a barrier the corpus text chain runs twice per query (the
    corpus_clean_final / hamming_pairs lesson).  A lazy localCheckpoint
    pins each shared frame to one execution; plan build stays job-free.
    """
    shingled = _shingle_sets(df, id_col, text_col, n)
    if not df.isStreaming:
        shingled = pin(shingled)
    sigs = minhash_signatures(
        df, id_col, text_col, n, num_hashes, shingled=shingled
    )
    cands = minhash_lsh_candidates(
        df, id_col, text_col, n, num_hashes, bands, sigs=sigs
    )
    return (
        verify_pairs_jaccard(cands, shingled)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_estimator_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Sketch-fidelity audit for the MinHash estimator: per LSH candidate
    pair, the signature agreement fraction (the sketch's Jaccard
    estimate) next to the EXACT Jaccard — the measurement that tunes
    ``num_hashes``/``bands`` before committing a 100 TB dedup pass (the
    analogue of ``ann_recall`` for the text-dedup stack).

    All outputs are exact integers on the 1e-4 grid: est_q4 is
    ``n_agree × (10000/num_hashes)`` (exact when num_hashes divides
    10000), jac_q4 the quantized exact Jaccard, err_q4 their difference.
    Cost is candidate-scoped: two signature equi-joins plus the existing
    pair verifier — nothing corpus-quadratic.
    """
    if 10000 % num_hashes != 0:
        raise ValueError("num_hashes must divide 10000 for exact est_q4")
    step = 10000 // num_hashes
    # shared-subtree materialization (optimization r15): shingled feeds
    # the signature chain AND the exact verifier; sigs feeds the band
    # build AND both agreement sides; cands feeds the agreement join AND
    # the verifier.  Each re-expansion re-ran the corpus text chain —
    # lazy localCheckpoints pin each to one execution (batch only).
    shingled = _shingle_sets(df, id_col, text_col, n)
    if not df.isStreaming:
        shingled = pin(shingled)
    sigs = minhash_signatures(
        df, id_col, text_col, n, num_hashes, shingled=shingled
    )
    if not df.isStreaming:
        sigs = pin(sigs)
    cands = minhash_lsh_candidates(
        df, id_col, text_col, n, num_hashes, bands, sigs=sigs
    )
    if not df.isStreaming:
        cands = pin(cands)
    sa = sigs.select(
        F.col("doc").alias("doc_a"), "seed", F.col("minhash").alias("mh_a")
    )
    sb = sigs.select(
        F.col("doc").alias("doc_b"), "seed", F.col("minhash").alias("mh_b")
    )
    agree = (
        cands.join(sa, "doc_a")
        .join(sb, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("mh_a") == F.col("mh_b")).cast("int"))
            .cast("bigint")
            .alias("n_agree")
        )
    )
    exact = verify_pairs_jaccard(cands, shingled)
    jac_q4 = F.floor(F.col("jaccard") * 10000 + F.lit(0.5)).cast("bigint")
    return (
        agree.join(exact.select("doc_a", "doc_b", "jaccard"), ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            (F.col("n_agree") * step).cast("bigint").alias("est_q4"),
            jac_q4.alias("jac_q4"),
            ((F.col("n_agree") * step) - jac_q4).cast("bigint").alias("err_q4"),
        )
    )


# --- SimHash -----------------------------------------------------------------


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """SimHash over word tokens (with multiplicity): bit b is the sign
    of Σ ±1 over token-hash bit b.

    60 bits by default (15 md5 hex chars = the widest hash that casts
    to a signed BIGINT in both engines without overflow): the pigeonhole
    candidate chunks need real width — 4 chunks of a 32-bit hash give
    256 distinct values per position, so at corpus scale every bucket
    holds ~|corpus|/1024 docs and the candidate join goes quadratic;
    15-bit chunks give 32k buckets per position, corpus-scale-safe."""
    df = fan_out(df)
    hex_chars = (bits + 3) // 4
    if hex_chars > 15:
        raise ValueError("bits > 60 overflows signed BIGINT hash casts")
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(_tokens(text_col)).alias("tok")
    ).withColumn(
        "h",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("0|"), F.col("tok"))), 1, hex_chars),
            16,
            10,
        ).cast("bigint"),
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    # shiftright with a *column* shift needs the SQL form (the Python
    # wrapper only takes int numBits)
    weighted = toks.select("doc", "h", bit).withColumn(
        "w",
        F.expr("CASE WHEN (shiftright(h, bit) & 1) = 1 THEN 1 ELSE -1 END"),
    )
    return (
        weighted.groupBy("doc", "bit")
        .agg(F.sum("w").alias("s"))
        .withColumn(
            "bitval",
            F.expr(
                "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), bit) "
                "ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .groupBy("doc")
        .agg(F.sum("bitval").alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 60,
    max_bucket: int | None = 10_000,
    log_capped: bool = False,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation uses the pigeonhole trick: split the hash into
    ``max_hamming + 1`` chunks; any pair within distance k shares at least
    one exact chunk — bucket-join on (chunk_idx, chunk_value), then verify
    the full Hamming distance.  No all-pairs product.  Chunk width is the
    scale knob: 60/4 = 15-bit chunks = 32k buckets per position (a 32-bit
    hash's 8-bit chunks collapse to 256 buckets and the bucket join goes
    quadratic at corpus scale).  Identical-simhash groups collapse to
    star edges and hot buckets are capped — see ``hamming_pairs``.
    """
    sh = simhash(df, id_col, text_col, bits)
    return hamming_pairs(
        sh, "doc", "simhash", max_hamming, bits,
        max_bucket=max_bucket, log_capped=log_capped,
    )


def hamming_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    bits: int,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
    max_bucket: int | None = 10_000,
    log_capped: bool = False,
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of a BIGINT hash
    column — the pigeonhole candidate generator behind
    ``simhash_pairs`` (text) and the synthetic-hash near-dup queries:
    split into ``max_hamming + 1`` chunks, bucket equi-join on
    (chunk_idx, chunk_value), verify the full distance JVM-side.

    Two structural guards keep degenerate corpora from going quadratic
    (round 12 — the same shape ``ngram_jaccard_pairs`` caps with
    ``max_df``):

    - **Exact-hash collapse (always on).** Rows sharing an identical
      hash value emit STAR edges — (min-id representative, member,
      hamming 0) — and only the representative enters candidate
      generation.  A 10k-identical-pHash cohort (blank / letterboxed
      images, ubiquitous in real crawls) yields 9 999 linear star rows
      instead of ~50M clique pairs, and its bucket contribution
      collapses to ONE row per chunk.  Connected components (the
      operator's downstream, ``cluster_duplicates``) are IDENTICAL to
      full-pair semantics: identical hashes are distance-0, so every
      within-radius relation a member had, its representative has.
      Cross-group pairs are emitted at representative level (one row
      per distinct-hash-value pair, not |A|×|B|).

    - **Hot-bucket cap (``max_bucket``).** Even distinct hash values
      can pile onto one (chunk_idx, chunk_val) bucket when a chunk
      position is low-entropy (e.g. the near-constant low-frequency
      DCT rows of dark scenes).  Buckets holding more than
      ``max_bucket`` DISTINCT hash values are dropped from candidate
      generation — a bounded recall trade: a pair is missed only if
      EVERY chunk it shares lands in a dropped bucket.  ``None``
      disables (test-scale exactness); ``log_capped=True`` runs one
      eager count over the 2-col hash frame and logs what was
      dropped (batch only).

    ``shiftrightunsigned`` throughout: identical to an arithmetic shift
    on non-negative hashes (simhash's 60-bit values) and REQUIRED for
    signed-64 perceptual hashes, where an arithmetic shift would smear
    the sign bit into every high chunk and collapse buckets."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    if chunk_bits < 1:
        # chunk width 0 would put EVERY hash in one bucket per position
        # — a silent all-pairs product, the exact failure this operator
        # exists to avoid.  Parameter guards run BEFORE the frame is
        # touched so knob validation needs no DataFrame.
        raise ValueError(
            f"max_hamming={max_hamming} needs more chunks than the "
            f"{bits}-bit hash has bits; use a smaller radius (or the "
            "embedding path for far pairs)"
        )
    if hashes.isStreaming:
        # the collapse window and the bucket self-join have no streaming
        # equivalent — run the batch operator per micro-batch inside
        # foreachBatch (the at-ingest twin pattern) instead
        raise ValueError(
            "hamming_pairs is batch-only; snapshot the stream with "
            "foreachBatch and pair each micro-batch as a batch frame"
        )
    base = hashes.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("hid"), F.col(hash_col).alias("hv")
    )
    # exact-hash collapse: ONE shuffle on hv tags every row with its
    # group representative.  The tagged frame has THREE consumers (star
    # edges + both sides of the bucket self-join) whose differing
    # column pruning defeats ReuseExchange (the canonicalization gotcha
    # cluster_duplicates documents), so a lazy localCheckpoint pins the
    # upstream hash computation — possibly a full corpus pass like
    # simhash — to exactly one execution (measured: 12 static
    # exchanges → 5, wall 1.14s → below at sf0.01).  Lazy, not eager:
    # plan build stays job-free; the first action materializes it.
    tagged = pin(
        base.withColumn(
            "rep", F.min("hid").over(Window.partitionBy("hv"))
        )
    )
    star = tagged.where(F.col("hid") != F.col("rep")).select(
        F.col("rep").alias(out_a),
        F.col("hid").alias(out_b),
        F.lit(0).alias("hamming"),
    )
    reps = tagged.where(F.col("hid") == F.col("rep")).select("hid", "hv")
    idx = F.explode(F.sequence(F.lit(0), F.lit(chunks - 1))).alias(
        "chunk_idx"
    )
    # at max_hamming=0 the single chunk spans all 64 bits: (1<<64)-1
    # overflows BIGINT in the parsed expr, so use -1 (all ones in two's
    # complement — `& -1` is the identity)
    mask = (1 << chunk_bits) - 1 if chunk_bits < 64 else -1
    chunked = reps.select("hid", "hv", idx).withColumn(
        "chunk_val",
        F.expr(
            "shiftrightunsigned(hv, chunk_idx * {0}) & {1}".format(
                chunk_bits, mask
            )
        ),
    )
    if max_bucket is not None:
        if log_capped:
            hot = (
                chunked.groupBy("chunk_idx", "chunk_val")
                .agg(F.count("*").alias("bsz"))
                .where(F.col("bsz") > max_bucket)
                .agg(
                    F.count("*").alias("n_buckets"),
                    F.max("bsz").alias("largest"),
                )
                .collect()[0]
            )
            if hot["n_buckets"]:
                log.warning(
                    "hamming_pairs: capped %s hot bucket(s) over %s "
                    "distinct hashes (largest %s) — pairs whose every "
                    "shared chunk was capped are missed",
                    hot["n_buckets"], max_bucket, hot["largest"],
                )
        # window count pre-shuffles on the JOIN key, so the bucket
        # equi-join below reuses the exchange instead of adding one
        bw = Window.partitionBy("chunk_idx", "chunk_val")
        chunked = (
            chunked.withColumn("bsz", F.count("*").over(bw))
            .where(F.col("bsz") <= max_bucket)
            .drop("bsz")
        )
    a, b = chunked.alias("a"), chunked.alias("b")
    cands = (
        a.join(b, on=["chunk_idx", "chunk_val"])
        .where(F.col("a.hid") < F.col("b.hid"))
        .select(
            F.col("a.hid").alias(out_a),
            F.col("b.hid").alias(out_b),
            F.col("a.hv").alias("hv_a"),
            F.col("b.hv").alias("hv_b"),
        )
        .distinct()
    )
    cross = (
        cands.withColumn(
            "hamming", F.bit_count(F.col("hv_a").bitwiseXOR(F.col("hv_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select(out_a, out_b, "hamming")
    )
    return cross.unionByName(star)


# --- duplicate-cluster assignment (connected components) ---------------------


def cluster_duplicates(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Assign every document appearing in a near-dup pair to a cluster:
    the connected component of the pair graph, labeled by its minimum id
    (so each cluster's canonical keeper is deterministic).

    Iterative min-label propagation with a pointer-jumping contraction
    each round, so convergence is O(log diameter) joins rather than
    O(diameter).  Each round localCheckpoints to cut lineage (an
    iterative algorithm would otherwise stack plans).  At 100 TB this is
    the standard large-scale connected-components shape: all state is
    (id, label) pairs, every step an equi-join + min-aggregate.

    The iteration's partitioning is sized to the EDGE COUNT, not the
    session default: a near-dup pair graph is orders of magnitude
    smaller than its corpus, and running ~6 shuffles per round at
    32 partitions over a few hundred edges is pure scheduler overhead
    (measured 6.4s → ~1.5s at sf0.1).  500k edges per partition keeps
    a 100 TB-corpus pair graph wide.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # materialize ONCE: the pair list is typically the output of an
        # expensive dedup pipeline (posting join / LSH verify); without
        # this every propagation round re-runs that upstream plan for
        # each of its joins and counts.  Lazy + the count below = ONE
        # job that both materializes the checkpoint and sizes the graph
        # (round 16: the count used to be a second pass)
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession
    n_edges = edges.count()
    n_part = max(1, min(
        spark.sparkContext.defaultParallelism, n_edges // 500_000 + 1
    ))
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
    if n_part == 1:
        # single-partition rounds gain nothing from AQE, and its
        # per-shuffle stage materialization multiplies the fixed job
        # latency that dominates a tiny graph's iteration
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _propagate_min_labels(edges, n_part, max_iter)
    finally:
        # every round's state is eagerly checkpointed inside, so
        # restoring session confs here cannot affect results
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def _propagate_min_labels(
    edges: DataFrame, n_part: int, max_iter: int
) -> DataFrame:
    edges = edges.repartition(n_part, "dst").localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        proposed = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                F.col("id"),
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jumping: follow label -> its label once, halving chains.
        # The old label rides along so convergence detection is a column
        # compare on the checkpointed result — no extra join + shuffle.
        lbl2 = proposed.select(
            F.col("id").alias("lid"), F.col("label").alias("llabel")
        )
        jumped = (
            proposed.join(lbl2, proposed.label == lbl2.lid, "left")
            .select(
                "id",
                F.coalesce(F.col("llabel"), F.col("label")).alias("label"),
                (
                    ~F.coalesce(F.col("llabel"), F.col("label")).eqNullSafe(
                        F.col("old_label")
                    )
                ).alias("_chg"),
            )
            # lazy: the convergence count below materializes the
            # checkpoint AND counts in one job (round 16 — the r15
            # deferred item; eager + count was two jobs per round)
            .localCheckpoint(eager=False)
        )
        changed = jumped.filter(F.col("_chg")).count()
        labels = jumped.drop("_chg")
        if changed == 0:
            break
    else:
        # falling through with changed > 0 would silently serve SPLIT
        # clusters (a component labeled by two different minima) — fail
        # loudly instead; 30 pointer-jumped rounds cover diameters ~2^30
        raise RuntimeError(
            f"cluster_duplicates did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# --- duplicated-span scrubbing (sub-document exact-substring dedup) ----------


def dup_span_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Exact duplicated-span scrubbing — sub-document dedup, the
    exact-substring family (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): a word ``n``-gram occurring in
    ≥ 2 DISTINCT documents is a duplicated span.  The minimum-id
    document containing a gram OWNS it and keeps its occurrences; every
    other document drops all token positions covered by that gram.
    Returns, per input document, the scrubbed normalized text plus
    coverage stats:

    ``(doc_id, n_tokens, n_kept, n_dup_tokens, text_scrubbed)``

    This is the granularity doc-level dedup cannot reach: two documents
    sharing one boilerplate paragraph are NOT near-dups (Jaccard far
    below threshold) yet still duplicate training tokens — span
    scrubbing removes exactly the shared spans and keeps the rest.

    Scale shape (100 TB): gram postings ``(doc, start, gkey)`` → ONE
    hash aggregate keyed on the gram for per-gram metadata (distinct-doc
    count + keeper id); only grams with ``nd ≥ 2`` — the duplicated
    minority — join back to postings, so the ×n expansion to covered
    token positions is bounded by actual duplication, never corpus
    size.  NO pair join anywhere: unlike Jaccard candidate generation
    this never multiplies postings by postings, so a boilerplate gram
    shared by millions of documents costs its (linear) posting count,
    with AQE skew-splitting spreading a hot gram's postings across
    reducers.  The shuffle key is ``unhex(md5(gram))`` — 16 fixed
    bytes instead of the n-token gram string (~2× shuffle-byte cut at
    word-gram widths; 128-bit collisions are negligible at any corpus
    size and the oracle mirrors the same key).  Reconstruction is one
    per-document aggregate.  The reference has no sub-document
    operator; this extends the SURVEY §2 dedup family per the
    LLM-pipeline brief.
    """
    base = fan_out(df).select(
        F.col(id_col).alias("doc"), _tokens(text_col).alias("toks")
    )
    # base feeds the token-position explode, the gram explode, and the
    # final per-doc stats join (3 references); grams feeds the metadata
    # aggregate and the cover join (2).  The references' exchange
    # children differ, so the tokenize/gram chains re-ran per reference
    # — pin each to one execution (optimization r15, the minhash-lane
    # pattern)
    base = pin(base)
    tokpos = base.select(
        "doc", F.posexplode("toks").alias("ti0", "tok")
    ).select("doc", (F.col("ti0") + 1).alias("ti"), "tok")
    grams = base.select(
        "doc", F.posexplode(_grams_from_tokens(F.col("toks"), n)).alias(
            "g0", "gram"
        )
    ).select(
        "doc",
        (F.col("g0") + 1).alias("start"),
        F.unhex(F.md5("gram")).alias("gkey"),
    )
    grams = pin(grams)
    # per-gram metadata: grams in >= 2 distinct docs, keyed to their
    # minimum-id owner
    meta = (
        grams.select("gkey", "doc")
        .distinct()
        .groupBy("gkey")
        .agg(
            F.count("*").cast("bigint").alias("nd"),
            F.min("doc").alias("keeper"),
        )
        .where(F.col("nd") >= 2)
        .select("gkey", "keeper")
    )
    cover = (
        grams.join(meta, "gkey")
        .where(F.col("doc") != F.col("keeper"))
        .select(
            "doc",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (n - 1))
            ).alias("ti"),
        )
        .distinct()
    )
    kept = tokpos.join(cover, ["doc", "ti"], "left_anti")
    rebuilt = kept.groupBy("doc").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ti", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_scrubbed"),
    )
    return (
        base.select("doc", F.size("toks").cast("bigint").alias("n_tokens"))
        .join(rebuilt, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_dup_tokens"),
            F.coalesce("text_scrubbed", F.lit("")).alias("text_scrubbed"),
        )
    )
