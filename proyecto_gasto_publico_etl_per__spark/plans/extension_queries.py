"""Declared queries for the training-data-pipeline extensions.

Registers into the same REGISTRY as driver_queries (imported from there so
the driver sees one catalog).  Every oracle mirrors the Spark computation
expression-for-expression:

- hashing is md5-prefix based (portable across engines),
- ratios/jaccard are double divisions of exact integers (bit-identical),
- cosine scores are quantized to an integer grid (floor(x*1000+0.5)),
- no round() anywhere (its half-up rules differ between engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import (
    chunking,
    dedup,
    multimodal,
    retrieval,
    sampling,
    similarity,
    textstats,
)
from ..operators.skew import pin
from ..sources import zones
from ..sources.tables import load_table
from ..streaming.incremental import windowed_event_counts
from .driver_queries import REGISTRY, register

JACCARD_T = 0.4
NEARDUP_T = 0.35

#: shared DuckDB CTE: normalized doc text (mirrors functions.cleaning +
#: operators.dedup._tokens / word_shingles)
_DOCS_CTE = r"""
docs AS (
  SELECT doc_id AS doc,
         trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS cleanraw,
         lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))) AS clean
  FROM documents
),
toks AS (
  SELECT doc, cleanraw, clean,
         CASE WHEN length(clean) = 0 THEN []::VARCHAR[]
              ELSE string_split(clean, ' ') END AS toks
  FROM docs
),
sh AS (
  SELECT doc, list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE []::VARCHAR[] END) AS shingles
  FROM toks
)
"""

#: DuckDB fragment for the exact n-gram jaccard pair list (reused by the
#: minhash verifier)
_JACCARD_CTE = f"""
sizes AS (SELECT doc, len(shingles) AS n_sh FROM sh),
posts AS (SELECT doc, unnest(shingles) AS shingle FROM sh),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
  FROM posts a JOIN posts b USING (shingle)
  WHERE a.doc < b.doc
  GROUP BY 1, 2
),
jpairs AS (
  SELECT doc_a, doc_b, n_common,
         CAST(n_common AS DOUBLE)
           / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
)
"""


# --- dedup -------------------------------------------------------------------


@register(
    "dedup_exact",
    r"""
    SELECT md5(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))))
             AS content_hash,
           min(doc_id) AS keep_id,
           count(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalized-text hash."""
    return dedup.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_DOCS_CTE}, {_JACCARD_CTE}
    SELECT doc_a, doc_b, n_common, jaccard
    FROM jpairs WHERE jaccard >= {JACCARD_T}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.4 (posting-list join)."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=JACCARD_T
    )


#: document-frequency cap for the scale-path candidate generation
NGRAM_MAX_DF = 5


@register(
    "dedup_ngram_capped",
    f"""
    WITH {_DOCS_CTE}, {_JACCARD_CTE},
    dfreq AS (SELECT shingle, count(*) AS df FROM posts GROUP BY 1),
    rare AS (SELECT shingle FROM dfreq WHERE df <= {NGRAM_MAX_DF}),
    cposts AS (SELECT p.doc, p.shingle FROM posts p JOIN rare USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM cposts a JOIN cposts b USING (shingle)
      WHERE a.doc < b.doc
    )
    SELECT doc_a, doc_b, n_common, jaccard
    FROM cand JOIN jpairs USING (doc_a, doc_b)
    WHERE jaccard >= {JACCARD_T}
    """,
)
def dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The posting join's scale path: stop-shingle DF cap on candidate
    generation (shingles in > {max_df} docs create quadratic candidate
    rows and are dropped), then exact Jaccard verified per candidate pair
    only — the shape that survives common-shingle skew at 100 TB."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=JACCARD_T,
        max_df=NGRAM_MAX_DF,
    )


#: DuckDB fragment for MinHash(16) signatures + LSH(4 band) candidate
#: pairs (mirrors operators.dedup.minhash_signatures/_lsh_candidates)
_MINHASH_CTE = """
seeds AS (SELECT unnest(range(16)) AS seed),
hashed AS (
  SELECT doc,
         CAST(('0x' || substr(md5('0|' || shingle), 1, 8)) AS BIGINT) AS h
  FROM posts
),
sigs AS (
  SELECT doc, seed,
         min((h * (seed * 2 + 1) + seed * 2654435761) % 4294967296)
             AS minhash
  FROM hashed CROSS JOIN seeds
  GROUP BY doc, seed
),
band_sigs AS (
  SELECT doc, seed // 4 AS band,
         md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_sig
  FROM sigs GROUP BY doc, seed // 4
),
cands AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM band_sigs a JOIN band_sigs b USING (band, band_sig)
  WHERE a.doc < b.doc
)
"""


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_DOCS_CTE}, {_JACCARD_CTE}, {_MINHASH_CTE}
    SELECT doc_a, doc_b, jaccard
    FROM cands JOIN jpairs USING (doc_a, doc_b)
    WHERE jaccard >= {JACCARD_T}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidates verified by exact Jaccard."""
    return dedup.minhash_dedup_pairs(
        load_table(spark, sf_dir, "documents"), threshold=JACCARD_T
    )


@register(
    "minhash_est_quality",
    f"""
    WITH {_DOCS_CTE}, {_JACCARD_CTE}, {_MINHASH_CTE},
    agree AS (
      SELECT c.doc_a, c.doc_b,
             CAST(SUM(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree
      FROM cands c
      JOIN sigs a ON a.doc = c.doc_a
      JOIN sigs b ON b.doc = c.doc_b AND b.seed = a.seed
      GROUP BY 1, 2
    )
    SELECT g.doc_a, g.doc_b, g.n_agree,
           CAST(g.n_agree * 625 AS BIGINT) AS est_q4,
           CAST(floor(COALESCE(j.jaccard, 0) * 10000 + 0.5) AS BIGINT)
               AS jac_q4,
           CAST(g.n_agree * 625
                - floor(COALESCE(j.jaccard, 0) * 10000 + 0.5) AS BIGINT)
               AS err_q4
    FROM agree g LEFT JOIN jpairs j USING (doc_a, doc_b)
    """,
)
def minhash_est_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch fidelity per LSH candidate pair: signature-agreement
    estimate vs exact Jaccard, both on the 1e-4 integer grid — the
    num_hashes/bands tuning measurement (operators/dedup.py)."""
    return dedup.minhash_estimator_quality(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "dedup_simhash",
    f"""
    WITH {_DOCS_CTE},
    tok1 AS (SELECT doc, unnest(toks) AS tok FROM toks),
    th AS (
      SELECT doc,
             CAST(('0x' || substr(md5('0|' || tok), 1, 15)) AS BIGINT) AS h
      FROM tok1
    ),
    bits AS (SELECT unnest(range(60)) AS bit),
    wsum AS (
      SELECT doc, bit,
             SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN bits GROUP BY doc, bit
    ),
    shh AS (
      SELECT doc,
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM wsum GROUP BY doc
    ),
    reps AS (SELECT simhash, MIN(doc) AS rep FROM shh GROUP BY simhash),
    star AS (
      SELECT r.rep AS doc_a, s.doc AS doc_b, 0 AS hamming
      FROM shh s JOIN reps r USING (simhash) WHERE s.doc <> r.rep
    ),
    -- rep-level cross pairs: the pigeonhole generator is EXACT at
    -- radius <= 3, so a brute-force xor over distinct hash values is
    -- the same set (test scale; the Spark side buckets, never all-pairs)
    crossp AS (
      SELECT a.rep AS doc_a, b.rep AS doc_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM reps a JOIN reps b ON a.rep < b.rep
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    )
    SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM crossp
    UNION ALL
    SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM star
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-60 near-dup pairs, Hamming ≤ 3, 15-bit pigeonhole chunk
    buckets (32k buckets per chunk position — corpus-scale-safe).
    Round-12 collapse semantics: identical-simhash groups emit star
    edges from the min-id representative (hamming 0) and enter
    candidate generation once — see ``dedup.hamming_pairs``."""
    df = dedup.simhash_pairs(load_table(spark, sf_dir, "documents"))
    return df.withColumn("hamming", F.col("hamming").cast("int"))


#: deterministic synthetic 64-bit hash: group key in the high bits,
#: role-dependent low-bit flips — identical (roles 0-2), near (1/2/3
#: bits), and far (8 bits) members per group, plus cross-group pairs
#: wherever bit_count(g1^g2) <= 3.  Pure shifts/xor so Spark and DuckDB
#: compute bit-identical BIGINTs (no overflow, no multiplication).
_SYNTH_HASH_SQL = (
    "CASE CAST(doc_id % 7 AS INT) WHEN 3 THEN 1 WHEN 4 THEN 3 "
    "WHEN 5 THEN 7 WHEN 6 THEN 255 ELSE 0 END"
)


@register(
    "neardup_hamming_pairs",
    f"""
    WITH hashes AS (
      SELECT doc_id,
             xor((doc_id % 50) << 40,
                 CAST({_SYNTH_HASH_SQL} AS BIGINT)) AS hv
      FROM documents
    ),
    reps AS (SELECT hv, MIN(doc_id) AS rep FROM hashes GROUP BY hv),
    star AS (
      SELECT r.rep AS doc_a, h.doc_id AS doc_b, 0 AS hamming
      FROM hashes h JOIN reps r USING (hv) WHERE h.doc_id <> r.rep
    ),
    -- brute-force rep-level verify: the pigeonhole generator is EXACT
    -- at the configured radius, so all-pairs xor at oracle scale is
    -- the same set
    crossp AS (
      SELECT a.rep AS doc_a, b.rep AS doc_b,
             bit_count(xor(a.hv, b.hv)) AS hamming
      FROM reps a JOIN reps b ON a.rep < b.rep
      WHERE bit_count(xor(a.hv, b.hv)) <= 3
    )
    SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM crossp
    UNION ALL
    SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM star
    """,
)
def neardup_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared pigeonhole Hamming-pair generator
    (``dedup.hamming_pairs`` — behind text SimHash near-dup) against a DuckDB brute-force oracle: chunk split → bucket
    equi-join → ``bit_count(xor)`` verify, with exact-hash collapse
    (star edges from the min-id rep) and the hot-bucket cap on its
    production default.  VERDICT r12 task 4."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = docs.select(
        "doc_id",
        F.expr(
            f"shiftleft(doc_id % 50, 40) ^ CAST({_SYNTH_HASH_SQL} AS BIGINT)"
        ).alias("hv"),
    )
    pairs = dedup.hamming_pairs(hashes, "doc_id", "hv", 3, 64)
    return pairs.withColumn("hamming", F.col("hamming").cast("int"))


@register(
    "neardup_hamming_capped",
    f"""
    WITH hashes AS (
      SELECT doc_id,
             xor((doc_id % 50) << 40,
                 CAST({_SYNTH_HASH_SQL} AS BIGINT)) AS hv
      FROM documents
    ),
    reps AS (SELECT hv, MIN(doc_id) AS rep FROM hashes GROUP BY hv),
    star AS (
      SELECT r.rep AS doc_a, h.doc_id AS doc_b, 0 AS hamming
      FROM hashes h JOIN reps r USING (hv) WHERE h.doc_id <> r.rep
    ),
    -- the CAP is part of the contract here: buckets over 100 distinct
    -- hashes drop from candidate generation, so this oracle mirrors
    -- the ALGORITHM (pigeonhole chunks + bucket-size filter), not a
    -- brute-force distance scan.  hv is non-negative by construction,
    -- so DuckDB's arithmetic >> equals Spark's shiftrightunsigned.
    chunks AS (
      SELECT rep, hv, c.chunk_idx,
             (hv >> (c.chunk_idx * 16)) & 65535 AS chunk_val
      FROM reps CROSS JOIN (SELECT unnest(range(4)) AS chunk_idx) c
    ),
    kept AS (
      SELECT chunk_idx, chunk_val FROM chunks
      GROUP BY 1, 2 HAVING COUNT(*) <= 100
    ),
    cands AS (
      SELECT DISTINCT a.rep AS doc_a, b.rep AS doc_b,
             a.hv AS hv_a, b.hv AS hv_b
      FROM chunks a
      JOIN kept USING (chunk_idx, chunk_val)
      JOIN chunks b USING (chunk_idx, chunk_val)
      WHERE a.rep < b.rep
    ),
    crossp AS (
      SELECT doc_a, doc_b, bit_count(xor(hv_a, hv_b)) AS hamming
      FROM cands WHERE bit_count(xor(hv_a, hv_b)) <= 3
    )
    SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM crossp
    UNION ALL
    SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM star
    """,
)
def neardup_hamming_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket cap under the driver gate (round 12): same
    synthetic hash table as ``neardup_hamming_pairs`` but with
    ``max_bucket=100``, which FIRES on this corpus — the all-groups
    chunk-1/chunk-3 buckets hold every representative (250) and drop,
    so pairs whose every shared chunk was hot are (deterministically)
    missed by Spark and oracle alike.  Near pairs keep their kept
    chunk-0/chunk-2 routes.  Locks the cap's filter placement, not just
    its existence."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = docs.select(
        "doc_id",
        F.expr(
            f"shiftleft(doc_id % 50, 40) ^ CAST({_SYNTH_HASH_SQL} AS BIGINT)"
        ).alias("hv"),
    )
    pairs = dedup.hamming_pairs(
        hashes, "doc_id", "hv", 3, 64, max_bucket=100
    )
    return pairs.withColumn("hamming", F.col("hamming").cast("int"))


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_DOCS_CTE}, {_JACCARD_CTE},
    dup_pairs AS (
      SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= {JACCARD_T}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
      UNION
      SELECT doc_b, doc_a FROM dup_pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT id AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the Jaccard near-dup graph: every paired
    doc labeled with its cluster's minimum doc id (the transitive-closure
    semantics the recursive oracle states declaratively)."""
    pairs = dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=JACCARD_T
    )
    return dedup.cluster_duplicates(pairs)


#: duplicated-span scrub gram width (tokens)
SCRUB_N = 5


@register(
    "dup_span_scrub",
    f"""
    WITH {{docs_cte}},
    g AS (
      SELECT doc, toks,
             unnest(range(1, greatest(len(toks) - {SCRUB_N - 1}, 0) + 1))
               AS start
      FROM toks
    ),
    posts AS (
      SELECT doc, start,
             unhex(md5(array_to_string(toks[start:start+{SCRUB_N - 1}], ' ')))
               AS gkey
      FROM g
    ),
    meta AS (
      SELECT gkey, min(doc) AS keeper
      FROM (SELECT DISTINCT gkey, doc FROM posts)
      GROUP BY gkey HAVING count(*) >= 2
    ),
    cover AS (
      SELECT DISTINCT doc, ti FROM (
        SELECT p.doc, unnest(range(p.start, p.start + {SCRUB_N})) AS ti
        FROM posts p JOIN meta m USING (gkey)
        WHERE p.doc <> m.keeper
      )
    ),
    tokpos AS (
      SELECT doc, unnest(toks) AS tok,
             unnest(range(1, len(toks) + 1)) AS ti
      FROM toks
    ),
    kept AS (
      SELECT t.doc, t.ti, t.tok
      FROM tokpos t LEFT JOIN cover c ON t.doc = c.doc AND t.ti = c.ti
      WHERE c.doc IS NULL
    ),
    reb AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY ti) AS text_scrubbed
      FROM kept GROUP BY doc
    )
    SELECT t.doc AS doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT)
             AS n_dup_tokens,
           coalesce(r.text_scrubbed, '') AS text_scrubbed
    FROM toks t LEFT JOIN reb r ON r.doc = t.doc
    """.format(docs_cte=_DOCS_CTE),
)
def dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact-substring dedup (Lee et al. 2022 family):
    scrub every token span covered by a word {SCRUB_N}-gram that occurs
    in ≥2 distinct documents, keeping the minimum-id document's copy —
    the granularity doc-level dedup can't reach (shared boilerplate
    paragraphs inside otherwise-distinct docs).  operators/dedup.
    dup_span_scrub; no pair join anywhere — per-gram metadata is one
    hash aggregate and only the duplicated minority of grams expands."""
    return dedup.dup_span_scrub(
        load_table(spark, sf_dir, "documents"), n=SCRUB_N
    )


@register(
    "corpus_clean_final",
    f"""
    WITH RECURSIVE {_DOCS_CTE}, {_JACCARD_CTE},
    dfreq AS (SELECT shingle, count(*) AS df FROM posts GROUP BY 1),
    rare AS (SELECT shingle FROM dfreq WHERE df <= {NGRAM_MAX_DF}),
    cposts AS (SELECT p.doc, p.shingle FROM posts p JOIN rare USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM cposts a JOIN cposts b USING (shingle)
      WHERE a.doc < b.doc
    ),
    dup_pairs AS (
      SELECT doc_a, doc_b
      FROM cand JOIN jpairs USING (doc_a, doc_b)
      WHERE jaccard >= {JACCARD_T}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
      UNION
      SELECT doc_b, doc_a FROM dup_pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
    q AS ({{quality}}), l AS ({{lang}})
    SELECT q.doc_id, l.lang_pred, q.n_tokens
    FROM q JOIN l ON q.doc_id = l.doc_id
    WHERE q.quality_ok AND l.lang_pred = 'en'
      AND q.n_tokens BETWEEN 5 AND 500
      AND q.doc_id NOT IN (SELECT id FROM comp WHERE cluster_id <> id)
    """,
)
def corpus_clean_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus build in one declared query:
    quality gate × language gate × token band, then near-duplicate
    removal keeping each Jaccard cluster's minimum-id representative —
    the composition every large corpus pipeline runs before training.
    Candidate generation runs the DF-capped scale path (stop-shingle cap
    ``NGRAM_MAX_DF``): the only posting-join shape that survives
    common-shingle skew at corpus scale; the oracle mirrors the cap."""
    docs = load_table(spark, sf_dir, "documents")
    # quality_stats and lang_id are both pure expression chains, so they
    # compose as column appends on ONE documents scan — the former
    # two-scans-plus-self-join shape doubled the corpus read for nothing
    # (the oracle's q JOIN l is 1:1 on doc_id, so the result is identical)
    profiled = textstats.lang_id(textstats.quality_stats(docs))
    # BARRIER before filtering on the profile flags: a deterministic
    # filter pushes below fan_out's exchange and inlines the whole
    # quality+lang expression chain into a scan-partition filter — the
    # chain then exceeds the janino method limit (interpreted, re-
    # evaluated) and runs on the file's 1-2 scan partitions.  Measured
    # 4.6s -> 0.8s at sf0.1.  The checkpoint materializes only the slim
    # 4-column profile, not the text.
    slim = pin(
        profiled.select("doc_id", "lang_pred", "n_tokens", "quality_ok"),
        eager=True,
    )
    selected = slim.where(
        F.col("quality_ok")
        & (F.col("lang_pred") == "en")
        & F.col("n_tokens").between(5, 500)
    ).select("doc_id", "lang_pred", "n_tokens")
    clusters = dedup.cluster_duplicates(
        dedup.ngram_jaccard_pairs(
            docs, threshold=JACCARD_T, max_df=NGRAM_MAX_DF
        )
    )
    non_representatives = clusters.filter(
        F.col("cluster_id") != F.col("doc_id")
    ).select("doc_id")
    return selected.join(non_representatives, "doc_id", "left_anti")


@register(
    "top_tokens",
    f"""
    WITH {_DOCS_CTE},
    words AS (SELECT doc, unnest(toks) AS tok FROM toks),
    counts AS (
      SELECT tok, count(*) AS n,
             CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
      FROM words WHERE tok <> '' GROUP BY tok
    )
    SELECT tok, n, n_docs FROM counts
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: top-20 tokens by frequency with
    document frequency — explode (posexplode-free flatten) + two-level
    count, the first stats pass of any corpus build."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(dedup._tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = words.groupBy("tok").agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(F.desc("n"), "tok").limit(20)


@register(
    "vocab_growth",
    f"""
    WITH {_DOCS_CTE},
    d2 AS (
      SELECT t.doc, d.source, t.toks
      FROM toks t JOIN documents d ON t.doc = d.doc_id
    ),
    words AS (
      SELECT source, doc, unnest(toks) AS tok FROM d2
    ),
    w2 AS (SELECT source, doc, tok FROM words WHERE tok <> '')
    SELECT source,
           CAST(count(DISTINCT doc) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab,
           CAST(count(DISTINCT tok) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS type_token_ratio
    FROM w2
    GROUP BY source
    """,
)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary profile (the Heaps-law corpus-health view):
    token volume, distinct vocabulary, and type-token ratio — a source
    whose vocabulary stops growing with volume is template/boilerplate;
    one growing too fast is noise/OCR junk.  One explode + one hash agg
    keyed by source; vocabulary cardinalities are exact (count-distinct
    expands map-side)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", "doc_id", F.explode(dedup._tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    return words.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_tokens"),
        F.countDistinct("tok").cast("bigint").alias("n_vocab"),
        (
            F.countDistinct("tok").cast("double")
            / F.count("*").cast("double")
        ).alias("type_token_ratio"),
    )


@register(
    "dedup_rate_by_source",
    r"""
    WITH h AS (
      SELECT source,
             md5(lower(trim(regexp_replace(coalesce(text, ''),
                                           '\s+', ' ', 'g'))))
                 AS content_hash
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT content_hash) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT content_hash) AS BIGINT)
               AS n_dup_docs,
           CAST(count(*) - count(DISTINCT content_hash) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS dup_rate
    FROM h
    GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication rate — the corpus-health metric that
    flags a crawler re-fetching itself or a source mirroring another
    before any expensive fuzzy pass runs.  One hash agg; the content
    hash is the same normalized-md5 the exact-dedup path keys on."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "source", textstats.fingerprint("text").alias("content_hash")
    )
    return h.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("content_hash").cast("bigint").alias("n_unique"),
        (F.count("*") - F.countDistinct("content_hash"))
        .cast("bigint")
        .alias("n_dup_docs"),
        (
            (F.count("*") - F.countDistinct("content_hash")).cast("double")
            / F.count("*").cast("double")
        ).alias("dup_rate"),
    )


#: top-N per n-gram order in the LM count table
NGRAM_TOP = 15


@register(
    "ngram_counts",
    f"""
    WITH {_DOCS_CTE},
    g1 AS (SELECT doc, unnest(toks) AS gram FROM toks),
    g2 AS (
      SELECT doc, unnest(
               CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)),
                           i -> toks[i] || ' ' || toks[i+1])
                    ELSE []::VARCHAR[] END) AS gram
      FROM toks
    ),
    g3 AS (
      SELECT doc, unnest(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i+1] || ' '
                                || toks[i+2])
                    ELSE []::VARCHAR[] END) AS gram
      FROM toks
    ),
    allg AS (
      SELECT 1 AS n, doc, gram FROM g1 WHERE gram <> ''
      UNION ALL SELECT 2, doc, gram FROM g2
      UNION ALL SELECT 3, doc, gram FROM g3
    ),
    counts AS (
      SELECT n, gram,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
      FROM allg GROUP BY 1, 2
    ),
    ranked AS (
      SELECT n, gram, cnt, n_docs,
             CAST(row_number() OVER (
               PARTITION BY n ORDER BY cnt DESC, gram
             ) AS INT) AS rk
      FROM counts
    )
    SELECT n, gram, cnt, n_docs, rk FROM ranked WHERE rk <= {NGRAM_TOP}
    """,
)
def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1/2/3-gram count tables (top-{NGRAM_TOP} per order) — the raw
    material of count-based LM smoothing and the corpus-health n-gram
    profile.  Grams carry MULTIPLICITY (``word_grams``, not the distinct
    shingle form); one union of three map-only explode passes, one hash
    agg keyed (order, gram) — vocab-bounded, and the per-order top-k
    window pushes down as WindowGroupLimit at scale."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    parts = []
    for n in (1, 2, 3):
        grams = docs.select(
            "doc_id", F.explode(dedup.word_grams("text", n)).alias("gram")
        )
        if n == 1:
            grams = grams.filter(F.col("gram") != "")
        parts.append(grams.select(F.lit(n).alias("n"), "doc_id", "gram"))
    allg = parts[0].unionByName(parts[1]).unionByName(parts[2])
    counts = allg.groupBy("n", "gram").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
    w = Window.partitionBy("n").orderBy(F.desc("cnt"), "gram")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= NGRAM_TOP)
        .select("n", "gram", "cnt", "n_docs", "rk")
    )


@register(
    "source_overlap_matrix",
    r"""
    WITH base AS (
      SELECT source,
             lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))
                 AS clean
      FROM documents
    ),
    h AS (
      SELECT source,
             list_min(list_transform(
               range(1, greatest(length(clean) - 7, 1) + 1),
               i -> CAST(('0x' || substr(md5(substr(clean, i, 8)), 1, 8))
                         AS BIGINT))) AS content_hash
      FROM base
    ),
    per AS (
      SELECT content_hash, source, count(*) AS n
      FROM h GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_hashes,
           CAST(SUM(a.n * b.n) AS BIGINT) AS n_pair_dups
    FROM per a JOIN per b USING (content_hash)
    WHERE a.source < b.source
    GROUP BY 1, 2
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    shared contents and how many duplicate doc pairs that implies — the
    provenance view that decides which source to keep when mixtures
    overlap (e.g. a web dump re-crawling a curated corpus).  Keyed on the
    edit-robust shingle fingerprint (``textstats.shingle_fingerprint``,
    whole-doc winnow), not the exact hash — re-crawls rarely match
    byte-for-byte.  Scale shape: hash-group first (per-(hash, source)
    counts), THEN the pair join — join input is bounded by distinct
    contents × sources, never doc count, and a hash shared by k sources
    contributes k² source-pair rows, not doc² rows."""
    from ..sources.tables import fan_out

    # fan_out: the per-char md5 fingerprint chain is the dominant cost
    # and must not run on a single small row group's 1-2 scan partitions;
    # localCheckpoint: the self-join below would otherwise recompute that
    # chain once per side (the cluster_duplicates edge-list rule) — and
    # at scale the materialized `per` is distinct-contents × sources
    # sized, far smaller than the corpus (31.6s → 16.5s → ~8s at sf0.1)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    per = (
        docs.select(
            "source",
            textstats.shingle_fingerprint("text").alias("content_hash"),
        )
        .groupBy("content_hash", "source")
        .agg(F.count("*").alias("n"))
    )
    per = pin(per, eager=True)
    a = per.select(
        "content_hash", F.col("source").alias("source_a"),
        F.col("n").alias("n_a"),
    )
    b = per.select(
        "content_hash", F.col("source").alias("source_b"),
        F.col("n").alias("n_b"),
    )
    return (
        a.join(b, "content_hash")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_shared_hashes"),
            F.sum(F.col("n_a") * F.col("n_b"))
            .cast("bigint")
            .alias("n_pair_dups"),
        )
    )


@register(
    "tfidf_top_terms",
    f"""
    WITH {_DOCS_CTE},
    words AS (SELECT doc, unnest(toks) AS tok FROM toks),
    w2 AS (SELECT doc, tok FROM words WHERE tok <> ''),
    tf AS (SELECT doc, tok, count(*) AS cnt FROM w2 GROUP BY 1, 2),
    ntok AS (SELECT doc, count(*) AS n_tokens FROM w2 GROUP BY 1),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM ntok),
    scored AS (
      SELECT tf.doc, tf.tok,
             CAST(floor(
               CAST(tf.cnt * (2 * (nd.n_docs - dfreq.df) + 1) AS DOUBLE)
               / CAST(ntok.n_tokens * (2 * dfreq.df + 1) AS DOUBLE)
               * 1000000000 + 0.5) AS BIGINT) AS score_q
      FROM tf JOIN ntok USING (doc) JOIN dfreq USING (tok) CROSS JOIN nd
    )
    SELECT doc AS doc_id, tok, score_q, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc
                                   ORDER BY score_q DESC, tok) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf with a LOG-FREE
    rational idf, idf = (N - df + ½)/(df + ½) — the BM25 idf core without
    the log.  Dropping the log keeps ranking order for fixed tf and makes
    the score a single exact-integer division, so both engines produce
    bit-identical doubles (ln() differs in the last ulp across libm
    implementations and would flip quantized ties).  Shape: explode →
    two hash aggs (tf, doc-length) → term-level df agg → broadcast
    1-row corpus size → per-doc top-k window.  Every join key is either
    doc_id (co-partitioned from the explode) or tok (the df side is
    |vocab|, broadcastable); nothing unaggregated crosses a shuffle."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(dedup._tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = words.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    ntok = words.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    ndocs = ntok.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(ntok, "doc_id")
        .join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(ndocs))
    )
    num = (
        F.col("cnt") * (2 * (F.col("n_docs") - F.col("df")) + 1)
    ).cast("double")
    den = (F.col("n_tokens") * (2 * F.col("df") + 1)).cast("double")
    scored = scored.withColumn(
        "score_q",
        F.floor(num / den * 1000000000 + F.lit(0.5)).cast("long"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "score_q", "rk")
    )


#: fixed retrieval query for bm25_topk — three terms known to appear in
#: the synthetic corpus vocabulary at every SF
_BM25_TERMS = ("spark", "hash", "merge")

#: BM25 oracle body shared by bm25_topk (inline scoring) and
#: bm25_serving (persisted inverted-index zone) — the serving twin is
#: value-identical by the build==inline identity, so one SQL gates both.
_BM25_SQL = f"""
    WITH {{docs_cte}},
    words AS (SELECT doc, unnest(toks) AS tok FROM toks),
    w2 AS (SELECT doc, tok FROM words WHERE tok <> ''),
    tf AS (SELECT doc, tok, count(*) AS cnt FROM w2 GROUP BY 1, 2),
    ntok AS (SELECT doc, count(*) AS dl FROM w2 GROUP BY 1),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    corpus AS (SELECT count(*) AS n_docs,
                      CAST(SUM(dl) AS BIGINT) AS s_tokens FROM ntok),
    q AS (SELECT unnest(['spark', 'hash', 'merge']) AS tok),
    scored AS (
      SELECT tf.doc,
             CAST(floor(
               CAST((2 * (c.n_docs - dfreq.df) + 1)
                    * 22 * tf.cnt * c.s_tokens AS DOUBLE)
               / CAST((2 * dfreq.df + 1)
                      * (10 * c.s_tokens * tf.cnt + 3 * c.s_tokens
                         + 9 * ntok.dl * c.n_docs) AS DOUBLE)
               * 1000000000 + 0.5) AS BIGINT) AS term_q
      FROM tf JOIN q USING (tok) JOIN ntok USING (doc)
           JOIN dfreq USING (tok) CROSS JOIN corpus c
    ),
    agg AS (SELECT doc AS doc_id, CAST(SUM(term_q) AS BIGINT) AS bm25_q
            FROM scored GROUP BY 1)
    SELECT doc_id, bm25_q, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY bm25_q DESC, doc_id) AS rk
      FROM agg
    ) WHERE rk <= 10
    """


def _bm25_term_q() -> Column:
    """Delegates to ``operators.retrieval.bm25_term_q`` (the shared
    exact-rational scoring expression; see bm25_topk's docstring for
    the derivation)."""
    return retrieval.bm25_term_q()


def _bm25_rank(scored: DataFrame) -> DataFrame:
    """Per-doc sum of term_q → top-10 (orderBy+limit, then a 10-row
    rank window) — shared tail of both BM25 entries."""
    from pyspark.sql import Window

    agg = scored.groupBy("doc_id").agg(
        F.sum("term_q").cast("long").alias("bm25_q")
    )
    top = agg.orderBy(F.desc("bm25_q"), "doc_id").limit(10)
    w = Window.orderBy(F.desc("bm25_q"), "doc_id")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "bm25_q", "rk"
    )


@register("bm25_topk", _BM25_SQL.format(docs_cte=_DOCS_CTE))
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a fixed 3-term query under BM25 (k1=1.2,
    b=0.75) with the log-free rational idf (the same BM25 idf core as
    `tfidf_top_terms`, idf = (N - df + ½)/(df + ½)) — the missing
    retrieval-side twin of the tf-idf characterization query.

    Exactness: with k1 = 6/5 and b = 3/4 the whole per-term score is one
    rational —

        (2(N-df)+1) · 22 · tf · S
        --------------------------------------------
        (2df+1) · (10·S·tf + 3·S + 9·dl·N)

    (S = total corpus tokens, dl = doc length) — so numerator and
    denominator are each a single exact BIGINT, the division is one
    double op, and the per-term score quantizes to a 1e-9-grid long
    BEFORE the per-doc sum.  No distributed double accumulation, no
    libm log: both engines produce identical longs.

    Shape (the 100 TB story): explode → two hash aggs (tf, dl) → df agg
    → the posting list is FILTERED to the query terms before any join
    (|postings(q)| rows, not |corpus|), the df side and the 1-row
    corpus stats broadcast, and the final top-k is orderBy+limit
    (TakeOrderedAndProject — no global sort); the rank window then runs
    over ≤10 rows.  Scoring cost is proportional to the matched
    postings, exactly like an inverted-index BM25 scatter-gather."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(dedup._tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = words.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    ntok = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    corpus = ntok.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("s_tokens")
    )
    scored = (
        tf.filter(F.col("tok").isin(*_BM25_TERMS))
        .join(ntok, "doc_id")
        .join(
            F.broadcast(dfreq.filter(F.col("tok").isin(*_BM25_TERMS))),
            "tok",
        )
        .crossJoin(F.broadcast(corpus))
        .withColumn("term_q", _bm25_term_q())
    )
    return _bm25_rank(scored)


#: per-process inverted-index zones for bm25_serving, keyed by sf_dir
#: (deliberately not cross-process: regenerated testdata can never be
#: served from a stale index — the dsir/ann serving-cache discipline)
_BM25_INDEX_ZONES: dict[str, str] = {}


def _bm25_build_index(spark: SparkSession, docs: DataFrame) -> str:
    """Delegates to ``operators.retrieval.build_bm25_index`` (fresh
    tempdir root): one pass over ``docs`` → postings PARTITIONED BY
    tok + doclen/dfreq/stats zones, the layout an inverted-index build
    job would leave in object storage."""
    return retrieval.build_bm25_index(spark, docs)


@register("bm25_serving", _BM25_SQL.format(docs_cte=_DOCS_CTE))
def bm25_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 path production actually repeats: build the inverted
    index ONCE (first call in a process — the bench's warm run), then
    every query reads ONLY its terms' postings from the tok-bucketed
    zone (partition pruning does the inverted-index seek; the scan
    never touches the corpus), joins them to the broadcast per-term
    dfreq rows and the broadcast 1-row stats — doc length rides
    denormalized IN the posting entry, so the corpus-sized doclen zone
    is never read — and scores with the same exact-rational term math
    as ``bm25_topk``.  Value-identical to the inline twin because the
    zones persist exactly the aggregates the inline plan computes
    (integer counts — nothing lossy in the round trip), so both entries
    share one oracle, putting index-build == inline-scoring equivalence
    under the driver's hash gate.  At 100 TB this is the only BM25
    shape that works: the index build is the one corpus-sized job, and
    per-query cost is |postings(q)| + a doc-length lookup."""
    root = _BM25_INDEX_ZONES.get(sf_dir)
    if root is None:
        root = _bm25_build_index(
            spark, load_table(spark, sf_dir, "documents")
        )
        _BM25_INDEX_ZONES[sf_dir] = root
    return retrieval.bm25_serve(spark, [root], _BM25_TERMS)


#: per-process (base, delta) zone pair for bm25_append_serving
_BM25_APPEND_ZONES: dict[str, tuple[str, str]] = {}


@register("bm25_append_serving", _BM25_SQL.format(docs_cte=_DOCS_CTE))
def bm25_append_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance without rebuild: a 10% document delta
    (doc_id % 10 == 7) is indexed into its OWN zone set and served
    ALONGSIDE the base index — postings and doclen scan both roots,
    dfreq re-sums per term, and the corpus stats add.  Because every
    zone holds associative integer aggregates over disjoint doc
    subsets, the merged view is EXACTLY the full rebuild's aggregates,
    so this entry shares the inline twin's oracle: append-maintained ==
    rebuilt, under the driver's hash gate (the ann_append_serving
    contract applied to the text-retrieval lane).  At 100 TB this is
    the shape that makes a living index affordable: each ingest batch
    writes one delta zone (tok-partitioned, so per-query pruning still
    applies across all roots) and a periodic compaction folds deltas
    into the base — queries never wait for a corpus-sized job."""
    roots = _BM25_APPEND_ZONES.get(sf_dir)
    if roots is None:
        docs = load_table(spark, sf_dir, "documents")
        is_delta = F.col("doc_id") % 10 == F.lit(7)
        roots = (
            _bm25_build_index(spark, docs.where(~is_delta)),
            _bm25_build_index(spark, docs.where(is_delta)),
        )
        _BM25_APPEND_ZONES[sf_dir] = roots
    base, delta = roots
    return retrieval.bm25_serve(spark, [base, delta], _BM25_TERMS)


#: per-process tombstoned-index root for bm25_delete_serving
_BM25_DELETE_ZONES: dict[str, str] = {}

#: the delete entry's oracle is the SHARED BM25 oracle computed over
#: the corpus MINUS the deleted docs — rebuild-on-remaining, i.e. the
#: append==rebuild contract inverted.  The single replace keeps the
#: docs CTE in lockstep with _DOCS_CTE (one source of truth for the
#: tokenization mirror).
_DOCS_CTE_DELETED = _DOCS_CTE.replace(
    "FROM documents", "FROM documents WHERE doc_id % 10 <> 3", 1
)


def _tombstoned_index_root(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-per-process: a full index over ``documents`` with 10%
    of the docs (doc_id % 10 == 3) tombstoned — shared by the BM25 and
    phrase delete-serving entries (ONE index, two query types, same
    deletion state; the bm25_serving/phrase_serving root-sharing
    pattern)."""
    root = _BM25_DELETE_ZONES.get(sf_dir)
    if root is None:
        docs = load_table(spark, sf_dir, "documents")
        root = _bm25_build_index(spark, docs)
        retrieval.delete_from_bm25_index(
            spark,
            [root],
            docs.select("doc_id").where(F.col("doc_id") % 10 == 3),
        )
        _BM25_DELETE_ZONES[sf_dir] = root
    return root


@register(
    "bm25_delete_serving", _BM25_SQL.format(docs_cte=_DOCS_CTE_DELETED)
)
def bm25_delete_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index DELETION without rebuild — the lifecycle gap the build/
    append/compact trio left open (a takedown or dedup-retraction on a
    100 TB corpus must not cost a corpus re-tokenize): 10% of the docs
    (doc_id % 10 == 3) are tombstoned on a fully-built index
    (`retrieval.delete_from_bm25_index` — one keyed doclen lookup per
    delete batch), and serving subtracts their contributions
    algebraically from the already-pruned postings(q) read — posting
    rows anti-joined, per-term df decremented by the deleted docs'
    matches, corpus stats decremented by the tombstones' (count, Σdl).
    The oracle is the full rebuild over the REMAINING docs, so
    delete == rebuild-on-remaining sits under the driver's hash gate
    (the append==rebuild contract inverted).  Compaction later folds
    tombstones out physically (pytest-pinned), bounding the adjustment
    set at one compaction interval."""
    root = _tombstoned_index_root(spark, sf_dir)
    return retrieval.bm25_serve(spark, [root], _BM25_TERMS)


#: per-process compacted root for bm25_compacted_serving
_BM25_COMPACT_ZONES: dict[str, str] = {}


def _compacted_index_root(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-per-process: a (base, delta) pair — the same 90/10
    split as `bm25_append_serving` — FOLDED into one root by
    `retrieval.compact_bm25_index` (zone-level unions and re-sums,
    never a re-tokenize).  Shared by the BM25 and phrase compacted
    serving entries (one compacted index, two query types — the
    `_tombstoned_index_root` sharing pattern)."""
    root = _BM25_COMPACT_ZONES.get(sf_dir)
    if root is None:
        import tempfile

        docs = load_table(spark, sf_dir, "documents")
        is_delta = F.col("doc_id") % 10 == F.lit(7)
        base = _bm25_build_index(spark, docs.where(~is_delta))
        delta = _bm25_build_index(spark, docs.where(is_delta))
        root = retrieval.compact_bm25_index(
            spark,
            [base, delta],
            tempfile.mkdtemp(prefix="bm25_compacted_") + "/zones",
        )
        _BM25_COMPACT_ZONES[sf_dir] = root
    return root


@register("bm25_compacted_serving", _BM25_SQL.format(docs_cte=_DOCS_CTE))
def bm25_compacted_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The periodic maintenance job a living index depends on, under
    the driver gate: a (base, delta) pair — the same 90/10 split as
    `bm25_append_serving` — is FOLDED into one root by
    `retrieval.compact_bm25_index` (zone-level unions and re-sums,
    never a re-tokenize) and served from the compacted root alone.
    Shares the inline twin's oracle: compacted == rebuilt, closing the
    associativity triangle the lane rests on (inline == served ==
    append-merged == compacted).  At 100 TB compaction is what bounds
    per-query root fan-in and file count while ingest keeps appending
    delta zones."""
    return retrieval.bm25_serve(
        spark, [_compacted_index_root(spark, sf_dir)], _BM25_TERMS
    )


#: fixed 2-term phrase for the phrase queries — an adjacent-token pair
#: present in the synthetic corpus at every SF
_PHRASE = ("spark", "hash")

#: shared oracle for phrase_topk (brute zip-compare over the tokenized
#: text) and phrase_serving (positional posting intersection) — the
#: serving twin is value-identical because |∩ᵢ(positions(tᵢ)−i)| counts
#: exactly the adjacent occurrences the brute pass counts.
_PHRASE_SQL = f"""
    WITH {_DOCS_CTE},
    occ AS (
      SELECT doc AS doc_id,
             CAST(len([i FOR i IN range(1, len(toks))
                       IF toks[i] = 'spark' AND toks[i + 1] = 'hash'])
                  AS BIGINT) AS n_occur
      FROM toks WHERE len(toks) >= 2
    ),
    nz AS (SELECT doc_id, n_occur FROM occ WHERE n_occur > 0)
    SELECT doc_id, n_occur, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY n_occur DESC, doc_id) AS rk
      FROM nz
    ) WHERE rk <= 10
    """


@register("phrase_topk", _PHRASE_SQL)
def phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by exact-phrase occurrence count ("spark hash",
    adjacent tokens) — the brute scan: one `word_grams` bigram sweep
    over the tokenized text (zip_with over shifted slices, O(L) JVM
    work per doc), count equal grams, TakeOrderedAndProject.  Integer
    counts, so cross-engine exactness is free.  `phrase_serving` is the
    index path that never re-reads text; both share this oracle."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    grams = dedup.word_grams("text", 2)
    occ = docs.select(
        "doc_id",
        F.size(
            F.filter(grams, lambda g: g == F.lit(" ".join(_PHRASE)))
        )
        .cast("long")
        .alias("n_occur"),
    ).filter(F.col("n_occur") > 0)
    top = occ.orderBy(F.desc("n_occur"), "doc_id").limit(10)
    w = Window.orderBy(F.desc("n_occur"), "doc_id")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "n_occur", "rk"
    )


@register("phrase_serving", _PHRASE_SQL)
def phrase_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search from the SAME persisted index `bm25_serving`
    reads (one inverted index, two query types): the posting entries
    carry sorted in-doc position lists, so the phrase count is the
    size of the shifted-position intersection over the phrase terms'
    postings — |∩ᵢ(positions(tᵢ)−i)| — computed on |postings(phrase)|
    rows with the corpus text never re-read (`retrieval.phrase_serve`).
    Shares `phrase_topk`'s oracle: positional-index == brute-scan,
    under the driver's hash gate."""
    root = _BM25_INDEX_ZONES.get(sf_dir)
    if root is None:
        root = _bm25_build_index(
            spark, load_table(spark, sf_dir, "documents")
        )
        _BM25_INDEX_ZONES[sf_dir] = root
    return retrieval.phrase_serve(spark, [root], _PHRASE)


@register(
    "phrase_delete_serving",
    # the phrase brute oracle over the corpus MINUS the deleted docs —
    # the same single-replace discipline as _DOCS_CTE_DELETED keeps it
    # in lockstep with the shared phrase oracle
    _PHRASE_SQL.replace(
        "FROM documents", "FROM documents WHERE doc_id % 10 <> 3", 1
    ),
)
def phrase_delete_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phrase lane under DELETION, oracle-gated: the positional
    index serves from the SAME tombstoned root as `bm25_delete_serving`
    (one index, two query types, one deletion state), anti-joining the
    tombstoned docs out of the match frame — phrase counts are per-doc
    (no corpus stats), so deletion is one broadcast anti-join and the
    result equals the brute zip-compare over the REMAINING docs.  With
    `bm25_delete_serving` this puts BOTH query types' tombstone
    arithmetic under the driver's hash gate (the BM25 side also
    adjusts df/stats; the phrase side proves pure row removal)."""
    root = _tombstoned_index_root(spark, sf_dir)
    return retrieval.phrase_serve(spark, [root], _PHRASE)


@register("phrase_compacted_serving", _PHRASE_SQL)
def phrase_compacted_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phrase lane through COMPACTION, oracle-gated (round 15):
    exact-phrase search from the SAME compacted root
    `bm25_compacted_serving` serves (one compacted index, two query
    types).  Compaction carries the positional column through the fold
    (disjoint-doc roots → `first(positions)` is the single row's
    list), so the shifted-position intersection over the compacted
    zones equals the brute zip-compare over the full corpus — this
    entry shares `phrase_topk`'s oracle verbatim, putting the
    positions-survive-compaction property under the driver's hash gate
    (the BM25 side only proves the integer aggregates fold).  With the
    r14/r15 entries every leg of BOTH query types is now gated:
    inline == served == append-merged == compacted == delete-adjusted,
    for bag-of-terms AND positional semantics."""
    return retrieval.phrase_serve(
        spark, [_compacted_index_root(spark, sf_dir)], _PHRASE
    )


@register(
    "embedding_outliers",
    """
    WITH ex AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS xq
      FROM embeddings
    ),
    cent AS (
      SELECT label, pos, SUM(xq) AS sx, count(*) AS n
      FROM ex GROUP BY 1, 2
    ),
    dist AS (
      SELECT e.vec_id, e.label,
             CAST(SUM(CAST(floor(
               (CAST(e.xq AS DOUBLE)
                - CAST(c.sx AS DOUBLE) / CAST(c.n AS DOUBLE))
               * (CAST(e.xq AS DOUBLE)
                  - CAST(c.sx AS DOUBLE) / CAST(c.n AS DOUBLE))
               + 0.5) AS BIGINT)) AS BIGINT) AS dist_q
      FROM ex e JOIN cent c USING (label, pos)
      GROUP BY 1, 2
    )
    SELECT label, vec_id, dist_q, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY label
                                   ORDER BY dist_q DESC, vec_id) AS rk
      FROM dist
    ) WHERE rk <= 3
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + top-3 farthest vectors (squared L2) — the
    E-step of k-means doubling as label-noise/outlier detection.  All
    cross-row math is exact: components quantize to 1e-6-grid longs, the
    centroid is one exact-integer division, and per-dimension squared
    deviations are floor-quantized to longs BEFORE the across-dims sum —
    so no distributed double accumulation anywhere and the result is
    partition-order-independent (and engine-independent).  Shape:
    posexplode → (label,pos) hash agg (|labels|×dims rows, broadcast
    back) → per-vector hash agg → per-label top-k window."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).withColumn(
        "xq",
        F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5)).cast(
            "long"
        ),
    )
    cent = ex.groupBy("label", "pos").agg(
        F.sum("xq").alias("sx"), F.count("*").alias("n")
    )
    d = F.col("xq").cast("double") - F.col("sx").cast("double") / F.col(
        "n"
    ).cast("double")
    dist = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .withColumn("sq_q", F.floor(d * d + F.lit(0.5)).cast("long"))
        .groupBy("vec_id", "label")
        .agg(F.sum("sq_q").alias("dist_q"))
    )
    w = Window.partitionBy("label").orderBy(F.desc("dist_q"), "vec_id")
    return (
        dist.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("label", "vec_id", "dist_q", "rk")
    )


_BUCKET_SQL = (
    "CAST(('0x' || substr(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 10000"
)


@register(
    "hash_sample",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_BUCKET_SQL.format(salt='sample')} < 1000
    """,
)
def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample by doc-id hash (operators/sampling.py) —
    stable across runs, partitionings, and engines, unlike seeded
    Bernoulli sampling."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", 0.10).select("doc_id", "lang")


@register(
    "dataset_split",
    f"""
    SELECT doc_id, lang,
           CASE WHEN {_BUCKET_SQL.format(salt='split')} < 100 THEN 'val'
                WHEN {_BUCKET_SQL.format(salt='split')} < 200 THEN 'test'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (98/1/1) by doc-id hash —
    a key keeps its split across runs, partitionings, and incremental
    appends (no eval-set contamination on re-splits)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.dataset_split(docs, "doc_id").select(
        "doc_id", "lang", "split"
    )


_CLUSTER_KEY_BUCKET = (
    "CAST(('0x' || substr(md5('split:' || CAST(split_key AS VARCHAR)), 1, 8))"
    " AS BIGINT) % 10000"
)


@register(
    "split_by_cluster",
    f"""
    WITH RECURSIVE {_DOCS_CTE}, {_JACCARD_CTE},
    dfreq AS (SELECT shingle, count(*) AS df FROM posts GROUP BY 1),
    rare AS (SELECT shingle FROM dfreq WHERE df <= {NGRAM_MAX_DF}),
    cposts AS (SELECT p.doc, p.shingle FROM posts p JOIN rare USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM cposts a JOIN cposts b USING (shingle)
      WHERE a.doc < b.doc
    ),
    dup_pairs AS (
      SELECT doc_a, doc_b
      FROM cand JOIN jpairs USING (doc_a, doc_b)
      WHERE jaccard >= {JACCARD_T}
    ),
    cedges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
      UNION
      SELECT doc_b, doc_a FROM dup_pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM cedges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN cedges e ON reach.r = e.src
    ),
    labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    keyed AS (
      SELECT d.doc_id, d.lang,
             CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS split_key
      FROM documents d LEFT JOIN labels l USING (doc_id)
    )
    SELECT doc_id, lang, split_key,
           CASE WHEN {_CLUSTER_KEY_BUCKET} < 100 THEN 'val'
                WHEN {_CLUSTER_KEY_BUCKET} < 200 THEN 'test'
                ELSE 'train' END AS split
    FROM keyed
    """,
)
def split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split: near-dup CLUSTERS assign to splits atomically
    (operators/sampling.cluster_split over the DF-capped Jaccard
    clusters) — two near-identical docs can never straddle the
    train/eval fence."""
    docs = load_table(spark, sf_dir, "documents")
    labels = dedup.cluster_duplicates(
        dedup.ngram_jaccard_pairs(
            docs, threshold=JACCARD_T, max_df=NGRAM_MAX_DF
        )
    )
    return sampling.cluster_split(docs, labels).select(
        "doc_id", "lang", "split_key", "split"
    )


@register(
    "hash_sample_stratified",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_BUCKET_SQL.format(salt='sample')} <
          CASE WHEN lang = 'en' THEN 500
               WHEN lang = 'zh' THEN 10000
               ELSE 2000 END
    """,
)
def hash_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling: downsample dominant English
    (5%), keep all Chinese, 20% elsewhere — the class-balance shape of a
    training-corpus build."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.05, "zh": 1.0}, default=0.20
    ).select("doc_id", "lang")


# --- text analysis -----------------------------------------------------------


def _count_sql(word: str) -> str:
    needle = f" {word} "
    return (
        f"(length(p) - length(replace(p, '{needle}', ' ')))"
        f" / CAST({len(needle) - 1} AS DOUBLE)"
    )


def _lang_scores_sql() -> str:
    parts = []
    for lang, words in textstats.LANG_MARKERS.items():
        expr = " + ".join(_count_sql(w) for w in words)
        parts.append(f"({expr}) AS score_{lang}")
    zh = (
        "CAST(length(coalesce(text, '')) - length(regexp_replace("
        "coalesce(text, ''), '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE)"
        " AS score_zh"
    )
    return ", ".join([*parts, zh])


def _lang_sql() -> str:
    return rf"""
    WITH base AS (
      SELECT doc_id, lang,
             ' ' || lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))
                 || ' ' AS p,
             text
      FROM documents
    ),
    scored AS (SELECT doc_id, lang, {_lang_scores_sql()} FROM base),
    long AS (
      SELECT doc_id, 'zh' AS cand, score_zh AS s, 1 AS pri FROM scored
      UNION ALL SELECT doc_id, 'en', score_en, 2 FROM scored
      UNION ALL SELECT doc_id, 'es', score_es, 3 FROM scored
      UNION ALL SELECT doc_id, 'de', score_de, 4 FROM scored
      UNION ALL SELECT doc_id, 'fr', score_fr, 5 FROM scored
    ),
    best AS (
      SELECT doc_id, cand AS lang_pred,
             row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, pri) AS rn
      FROM long
    )
    SELECT s.doc_id, s.lang, s.score_en, s.score_es, s.score_de, s.score_fr,
           s.score_zh, b.lang_pred
    FROM scored s JOIN best b ON s.doc_id = b.doc_id AND b.rn = 1
    """


@register("lang_id", _lang_sql())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID with ground-truth column for auditing."""
    docs = load_table(spark, sf_dir, "documents")
    out = textstats.lang_id(docs)
    return out.select(
        "doc_id",
        "lang",
        "score_en",
        "score_es",
        "score_de",
        "score_fr",
        "score_zh",
        "lang_pred",
    )


_QUALITY_SQL = r"""
    WITH base AS (
      SELECT doc_id,
             trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')) AS clean,
             ' ' || lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))
                 || ' ' AS p
      FROM documents
    ),
    m AS (
      SELECT doc_id, clean, p,
             length(clean) AS n_chars,
             CASE WHEN length(clean) = 0 THEN 0
                  ELSE len(string_split(clean, ' ')) END AS n_tokens,
             length(clean) - length(regexp_replace(clean, '[^\w\s]', '', 'g'))
                 AS n_punct,
             length(clean) - length(regexp_replace(clean, '[A-Z]', '', 'g'))
                 AS n_upper,
             (length(p) - length(replace(p, ' the ', ' '))) / CAST(4 AS DOUBLE)
               + (length(p) - length(replace(p, ' and ', ' '))) / CAST(4 AS DOUBLE)
               + (length(p) - length(replace(p, ' of ', ' '))) / CAST(3 AS DOUBLE)
               + (length(p) - length(replace(p, ' is ', ' '))) / CAST(3 AS DOUBLE)
               + (length(p) - length(replace(p, ' to ', ' '))) / CAST(3 AS DOUBLE)
                 AS stop
      FROM base
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars_clean,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN n_tokens > 0
                THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE) ELSE 0 END AS mean_token_len,
           CASE WHEN n_chars > 0
                THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
                ELSE 0 END AS punct_ratio,
           CASE WHEN n_chars > 0
                THEN CAST(n_upper AS DOUBLE) / CAST(n_chars AS DOUBLE)
                ELSE 0 END AS upper_ratio,
           CASE WHEN n_tokens > 0
                THEN stop / CAST(n_tokens AS DOUBLE) ELSE 0 END AS stopword_ratio,
           (n_tokens >= 5
             AND (CASE WHEN n_tokens > 0
                       THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)
                            / CAST(n_tokens AS DOUBLE) ELSE 0 END) >= 2
             AND (CASE WHEN n_tokens > 0
                       THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE)
                            / CAST(n_tokens AS DOUBLE) ELSE 0 END) <= 12
             AND (CASE WHEN n_chars > 0
                       THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)
                       ELSE 0 END) <= 0.3) AS quality_ok
    FROM m
    """


@register("quality_stats", _QUALITY_SQL)
def quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals + composite flag."""
    docs = load_table(spark, sf_dir, "documents")
    out = textstats.quality_stats(docs)
    return out.select(
        "doc_id",
        "n_chars_clean",
        "n_tokens",
        "mean_token_len",
        "punct_ratio",
        "upper_ratio",
        "stopword_ratio",
        "quality_ok",
    )


#: literal linear-model weights for the classifier-style quality filter —
#: rational constants (exactly representable doubles), fixed evaluation
#: order, so the margin is the same IEEE expression chain in both engines
QC_W_STOP, QC_W_PUNCT, QC_W_LEN, QC_BIAS = 2.0, -1.5, 0.125, -0.25
QC_THRESHOLD = 0.4


@register(
    "quality_classifier_filter",
    f"""
    WITH q AS ({_QUALITY_SQL})
    SELECT doc_id, n_tokens,
           (({QC_W_STOP} * stopword_ratio + {QC_W_PUNCT} * punct_ratio)
            + ({QC_W_LEN} * mean_token_len - upper_ratio)) + {QC_BIAS}
               AS quality_score,
           ((({QC_W_STOP} * stopword_ratio + {QC_W_PUNCT} * punct_ratio)
             + ({QC_W_LEN} * mean_token_len - upper_ratio)) + {QC_BIAS}
            >= {QC_THRESHOLD} AND n_tokens >= 5) AS keep
    FROM q
    """,
)
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-style quality filtering (the FineWeb-Edu pattern: score
    every doc with a trained model, keep above threshold) with a LINEAR
    model over the engine's quality signals standing in for the learned
    transformer — the Spark-side plumbing (single scan, scoring as a
    column expression, threshold gate) is exactly the production shape;
    swap the literal weights for exported model coefficients.

    Determinism: every feature is a double division of exact integers
    and the margin a fixed-order IEEE multiply-add chain with rational
    literal weights — bit-identical across engines (no sigmoid: exp()
    differs in the last ulp across libm implementations, and a monotone
    transform never changes a threshold decision anyway)."""
    q = textstats.quality_stats(load_table(spark, sf_dir, "documents"))
    margin = (
        (
            F.lit(QC_W_STOP) * F.col("stopword_ratio")
            + F.lit(QC_W_PUNCT) * F.col("punct_ratio")
        )
        + (
            F.lit(QC_W_LEN) * F.col("mean_token_len")
            - F.col("upper_ratio")
        )
    ) + F.lit(QC_BIAS)
    return q.select(
        "doc_id",
        "n_tokens",
        margin.alias("quality_score"),
        ((margin >= QC_THRESHOLD) & (F.col("n_tokens") >= 5)).alias("keep"),
    )


@register(
    "corpus_select",
    f"""
    WITH q AS ({_QUALITY_SQL}), l AS ({_lang_sql()})
    SELECT q.doc_id, l.lang_pred, q.n_tokens, q.stopword_ratio
    FROM q JOIN l ON q.doc_id = l.doc_id
    WHERE q.quality_ok AND l.lang_pred = 'en'
      AND q.n_tokens BETWEEN 5 AND 500
    """,
)
def corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-corpus selection: quality gate × language
    gate × token-length band, composed from the audited signal operators
    as column appends on a single documents scan (no join at all)."""
    docs = load_table(spark, sf_dir, "documents")
    # single scan: both profilers are pure column chains (see
    # corpus_clean_final); the oracle's 1:1 doc_id join is unchanged
    profiled = textstats.lang_id(textstats.quality_stats(docs))
    # same filter barrier as corpus_clean_final (see the comment there)
    slim = pin(
        profiled.select(
            "doc_id", "lang_pred", "n_tokens", "stopword_ratio",
            "quality_ok",
        ),
        eager=True,
    )
    return slim.where(
        F.col("quality_ok")
        & (F.col("lang_pred") == "en")
        & F.col("n_tokens").between(5, 500)
    ).select("doc_id", "lang_pred", "n_tokens", "stopword_ratio")


@register(
    "text_redact",
    rf"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(coalesce(text, ''),
                            '{textstats.EMAIL_RE}', '<EMAIL>', 'g'),
             '{textstats.DIGITS_RE}', '<NUM>', 'g') AS text_redacted
    FROM documents
    """,
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails, long digit runs) as pure JVM regexp_replace."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.redact_pii(F.coalesce(F.col("text"), F.lit("")))
        .alias("text_redacted"),
    )


@register(
    "token_count",
    r"""
    SELECT doc_id,
           CAST(CASE WHEN length(regexp_replace(trim(coalesce(text, '')),
                                                '\s+', ' ', 'g')) = 0 THEN 0
                ELSE len(string_split(
                       lower(regexp_replace(trim(coalesce(text, '')),
                                            '\s+', ' ', 'g')), ' '))
                END AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(coalesce(text, ''),
                                       '\w{1,4}|[^\w\s]')) AS INT)
               AS n_subtokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish sub-token count."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.token_count("text").cast("int").alias("n_tokens"),
        textstats.bpe_ish_token_count("text").cast("int").alias("n_subtokens"),
    )


@register(
    "doc_fingerprint",
    r"""
    WITH base AS (
      SELECT doc_id,
             lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))
                 AS clean
      FROM documents
    )
    SELECT doc_id,
           md5(clean) AS content_hash,
           list_min(list_transform(
             range(1, greatest(length(clean) - 7, 1) + 1),
             i -> CAST(('0x' || substr(md5(substr(clean, i, 8)), 1, 8))
                       AS BIGINT))) AS shingle_fp
    FROM base
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content hash + rolling char-8-gram min-hash fingerprint.
    ``fan_out``: the per-char md5 chain must not run on a small file's
    1-2 real scan partitions."""
    from ..sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        textstats.fingerprint("text").alias("content_hash"),
        textstats.shingle_fingerprint("text").alias("shingle_fp"),
    )


# --- similarity search -------------------------------------------------------

#: neighbors returned per probe by every ANN builder, its oracle's
#: ``rk <= ANN_K`` cut and the rank-metric evals
ANN_K = 5

_COSINE_TOPK_SQL = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(floor(list_cosine_similarity(qv, cv) * 1000 + 0.5) AS BIGINT)
                 AS score_q3
      FROM c CROSS JOIN q
      WHERE query_id <> neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score_q3,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
             ) AS INT) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, score_q3, rk FROM ranked WHERE rk <= {ANN_K}
"""


_MMR_SQL = """
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    cand AS (
      SELECT query_id, neighbor_id, score_q3 FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(floor(list_cosine_similarity(q.vec, c.vec) * 1000 + 0.5)
                    AS BIGINT) AS score_q3,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY CAST(floor(list_cosine_similarity(q.vec, c.vec)
                               * 1000 + 0.5) AS BIGINT) DESC, c.vec_id
               ) AS rk
        FROM (SELECT * FROM corpus WHERE vec_id < 10) q
        CROSS JOIN corpus c
        WHERE q.vec_id <> c.vec_id
      ) WHERE rk <= 10
    ),
    pair AS (
      SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
             CAST(floor(list_cosine_similarity(av.vec, bv.vec) * 1000 + 0.5)
                  AS BIGINT) AS sim_q3
      FROM cand a
      JOIN cand b ON a.query_id = b.query_id
                 AND a.neighbor_id <> b.neighbor_id
      JOIN corpus av ON av.vec_id = a.neighbor_id
      JOIN corpus bv ON bv.vec_id = b.neighbor_id
    ),
    sel1 AS (
      SELECT query_id, neighbor_id, score_q3, 1 AS mmr_rank FROM (
        SELECT query_id, neighbor_id, score_q3,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
               ) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    ms2 AS (
      SELECT c.query_id, c.neighbor_id, c.score_q3,
             max(p.sim_q3) AS maxsim_q3
      FROM cand c
      JOIN pair p ON p.query_id = c.query_id AND p.a_id = c.neighbor_id
      JOIN sel1 s ON s.query_id = p.query_id AND s.neighbor_id = p.b_id
      WHERE NOT EXISTS (
        SELECT 1 FROM sel1 x
        WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id
      )
      GROUP BY c.query_id, c.neighbor_id, c.score_q3
    ),
    sel2 AS (
      SELECT query_id, neighbor_id, score_q3, 2 AS mmr_rank FROM (
        SELECT query_id, neighbor_id, score_q3,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY score_q3 - maxsim_q3 DESC, neighbor_id
               ) AS rn
        FROM ms2
      ) WHERE rn = 1
    ),
    sel12 AS (
      SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
    ),
    ms3 AS (
      SELECT c.query_id, c.neighbor_id, c.score_q3,
             max(p.sim_q3) AS maxsim_q3
      FROM cand c
      JOIN pair p ON p.query_id = c.query_id AND p.a_id = c.neighbor_id
      JOIN sel12 s ON s.query_id = p.query_id AND s.neighbor_id = p.b_id
      WHERE NOT EXISTS (
        SELECT 1 FROM sel12 x
        WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id
      )
      GROUP BY c.query_id, c.neighbor_id, c.score_q3
    ),
    sel3 AS (
      SELECT query_id, neighbor_id, score_q3, 3 AS mmr_rank FROM (
        SELECT query_id, neighbor_id, score_q3,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY score_q3 - maxsim_q3 DESC, neighbor_id
               ) AS rn
        FROM ms3
      ) WHERE rn = 1
    )
    SELECT query_id, neighbor_id, score_q3, CAST(mmr_rank AS INT) AS mmr_rank
    FROM (
      SELECT * FROM sel1
      UNION ALL SELECT * FROM sel2
      UNION ALL SELECT * FROM sel3
    )
"""


@register("mmr_diverse_topk", _MMR_SQL)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-3 (round 9): greedy maximal-marginal-relevance
    selection over each query\'s brute top-10 candidates with
    rational lambda = 1/2 — redundancy-aware retrieval / diverse-exemplar
    picking (``operators/similarity.mmr_select``).  The greedy argmax
    compares exact integers (q3-quantized scores with integer lambda
    multipliers), so the unrolled 3-step oracle mirrors the Spark loop
    decision-for-decision.  Only candidate generation touches the
    corpus; every greedy step operates on probe-sized frames."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.mmr_select(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=3,
        n_candidates=10,
    )


@register("sim_topk_brute", _COSINE_TOPK_SQL)
def sim_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a 10-vector probe set."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=ANN_K
    )


_BUCKETS_SQL = """
    dims AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    planes AS (SELECT unnest(range({n_planes})) AS p),
    dots AS (
      SELECT vec_id, p,
             SUM(x * CASE WHEN CAST(('0x' || substr(
                       md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1)) AS INT)
                       & 1 = 0
                     THEN 1.0 ELSE -1.0 END) AS dot
      FROM dims CROSS JOIN planes
      GROUP BY vec_id, p
    ),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM dots GROUP BY vec_id
    )
"""


_LSH_TOPK_SQL = f"""
    WITH {_BUCKETS_SQL.format(n_planes=8)},
    q AS (
      SELECT b.vec_id AS query_id, e.embedding::DOUBLE[] AS qv, b.bucket
      FROM buckets b JOIN embeddings e USING (vec_id)
      WHERE b.vec_id < 10
    ),
    c AS (
      SELECT b.vec_id AS neighbor_id, e.embedding::DOUBLE[] AS cv, b.bucket
      FROM buckets b JOIN embeddings e USING (vec_id)
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(floor(list_cosine_similarity(qv, cv) * 1000 + 0.5) AS BIGINT)
                 AS score_q3
      FROM c JOIN q USING (bucket)
      WHERE query_id <> neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score_q3,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
             ) AS INT) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, score_q3, rk FROM ranked WHERE rk <= {ANN_K}
    """


@register("sim_topk_lsh", _LSH_TOPK_SQL)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (8 deterministic hyperplanes)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=ANN_K)


@register(
    "sim_topk_lsh_multiprobe",
    f"""
    WITH {_BUCKETS_SQL.format(n_planes=8)},
    c AS (
      SELECT b.vec_id AS neighbor_id, e.embedding::DOUBLE[] AS cv, b.bucket
      FROM buckets b JOIN embeddings e USING (vec_id)
    ),
    qp AS (
      SELECT b.vec_id AS query_id, e.embedding::DOUBLE[] AS qv,
             unnest([b.bucket] || list_transform(range(8),
                      p -> xor(b.bucket, 1::BIGINT << p))) AS bucket
      FROM buckets b JOIN embeddings e USING (vec_id)
      WHERE b.vec_id < 10
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(floor(list_cosine_similarity(qv, cv) * 1000 + 0.5)
                  AS BIGINT) AS score_q3
      FROM c JOIN qp USING (bucket)
      WHERE query_id <> neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score_q3,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
             ) AS INT) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, score_q3, rk FROM ranked WHERE rk <= {ANN_K}
    """,
)
def sim_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH approximate top-5: the query's bucket plus all 8
    Hamming-1 neighbor buckets — the recall lever that skips extra hash
    tables (operators/similarity.lsh_multiprobe_topk); the corpus side
    keeps the single bucket equi-join, only the broadcast probe frame
    grows (n_planes+1)×."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_multiprobe_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=ANN_K
    )


#: IVF geometry shared by every IVF query, its oracle and ann_rrf_fusion:
#: md5-sampled centroids, and the inverted lists probed per query
IVF_N_CENTROIDS = 16
IVF_NPROBE = 4

_IVF_SQL = f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings
      ORDER BY CAST(('0x' || substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000, vec_id LIMIT {IVF_N_CENTROIDS}
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    assign AS (
      SELECT vec_id, vec, cid FROM (
        SELECT corpus.vec_id, corpus.vec, cents.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY CAST(floor(list_cosine_similarity(vec, cvec) * 1000
                               + 0.5) AS BIGINT) DESC, cents.cid
               ) AS ark
        FROM corpus CROSS JOIN cents
      ) WHERE ark = 1
    ),
    probes AS (
      SELECT query_id, qvec, cid FROM (
        SELECT q.vec_id AS query_id, q.vec AS qvec, cents.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY CAST(floor(list_cosine_similarity(q.vec, cents.cvec)
                               * 1000 + 0.5) AS BIGINT) DESC, cents.cid
               ) AS prk
        FROM (SELECT * FROM corpus WHERE vec_id < 10) q CROSS JOIN cents
      ) WHERE prk <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             CAST(floor(list_cosine_similarity(p.qvec, a.vec) * 1000 + 0.5)
                  AS BIGINT) AS score_q3
      FROM probes p JOIN assign a USING (cid)
      WHERE p.query_id <> a.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score_q3,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
             ) AS INT) AS rk
      FROM cand
    )
    SELECT query_id, neighbor_id, score_q3, rk FROM ranked WHERE rk <= {ANN_K}
"""


@register("sim_topk_ivf", _IVF_SQL)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: 16 deterministic sample-init centroids,
    4-probe search over the inverted lists (operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=ANN_K,
        n_centroids=IVF_N_CENTROIDS,
        nprobe=IVF_NPROBE,
    )


#: SQ8 shortlist depth (rerank × k exact re-ranks per query)
SQ8_RERANK = 4


@register(
    "sim_topk_sq8",
    f"""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    mm AS (
      SELECT pos, min(val) AS mn, max(val) AS mx FROM (
        SELECT unnest(vec) AS val, unnest(range(1, len(vec) + 1)) AS pos
        FROM corpus
      ) GROUP BY pos
    ),
    mml AS (
      SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
      FROM mm
    ),
    enc AS (
      SELECT vec_id,
             list_transform(range(1, len(vec) + 1), i ->
               CASE WHEN mxs[i] > mns[i]
                    THEN least(255, greatest(0, CAST(floor(
                           (vec[i] - mns[i]) / (mxs[i] - mns[i]) * 256.0)
                         AS BIGINT)))
                    ELSE 0 END) AS codes
      FROM corpus CROSS JOIN mml
    ),
    dq AS (
      SELECT vec_id,
             list_transform(range(1, len(codes) + 1), i ->
               CASE WHEN mxs[i] > mns[i]
                    THEN mns[i] + (CAST(codes[i] AS DOUBLE) + 0.5)
                         * (mxs[i] - mns[i]) / 256.0
                    ELSE mns[i] END) AS dqv
      FROM enc CROSS JOIN mml
    ),
    nrm AS (
      SELECT vec_id, dqv,
             sqrt(list_reduce(list_transform(dqv, x -> x * x),
                              (a, b) -> a + b)) AS nm
      FROM dq
    ),
    scored AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             CAST(floor(list_reduce(
                    list_transform(range(1, len(q.dqv) + 1),
                                   i -> q.dqv[i] * n.dqv[i]),
                    (a, b) -> a + b)
                  / (q.nm * n.nm) * 1000000 + 0.5) AS BIGINT) AS approx_q6
      FROM nrm n CROSS JOIN (SELECT * FROM nrm WHERE vec_id < 10) q
      WHERE q.vec_id <> n.vec_id
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY approx_q6 DESC, neighbor_id
               ) AS ark
        FROM scored
      ) WHERE ark <= {SQ8_RERANK * 5}
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(floor(list_cosine_similarity(qv.vec, nv.vec) * 1000 + 0.5)
                  AS BIGINT) AS score_q3
      FROM short s
      JOIN corpus nv ON nv.vec_id = s.neighbor_id
      JOIN corpus qv ON qv.vec_id = s.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score_q3,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
             ) AS INT) AS rk
      FROM exact
    )
    SELECT query_id, neighbor_id, score_q3, rk FROM ranked WHERE rk <= {ANN_K}
    """,
)
def sim_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized approximate top-5: per-dim int8 codes
    against the corpus min/max (4×/8× index compression — the memory
    axis, orthogonal to IVF's candidate pruning), approximate cosine on
    the dequantized midpoints shortlists rerank×k, exact cosine
    re-ranks (operators/similarity.sq8_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.sq8_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=ANN_K, rerank=SQ8_RERANK
    )


@register(
    "sim_topk_ivf_sq8",
    f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings
      ORDER BY CAST(('0x' || substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000, vec_id LIMIT {IVF_N_CENTROIDS}
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT corpus.vec_id, cents.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY CAST(floor(list_cosine_similarity(vec, cvec) * 1000
                               + 0.5) AS BIGINT) DESC, cents.cid
               ) AS ark
        FROM corpus CROSS JOIN cents
      ) WHERE ark = 1
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, cents.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY CAST(floor(list_cosine_similarity(q.vec, cents.cvec)
                               * 1000 + 0.5) AS BIGINT) DESC, cents.cid
               ) AS prk
        FROM (SELECT * FROM corpus WHERE vec_id < 10) q CROSS JOIN cents
      ) WHERE prk <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a USING (cid)
      WHERE p.query_id <> a.vec_id
    ),
    mm AS (
      SELECT pos, min(val) AS mn, max(val) AS mx FROM (
        SELECT unnest(vec) AS val, unnest(range(1, len(vec) + 1)) AS pos
        FROM corpus
      ) GROUP BY pos
    ),
    mml AS (
      SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
      FROM mm
    ),
    enc AS (
      SELECT vec_id,
             list_transform(range(1, len(vec) + 1), i ->
               CASE WHEN mxs[i] > mns[i]
                    THEN least(255, greatest(0, CAST(floor(
                           (vec[i] - mns[i]) / (mxs[i] - mns[i]) * 256.0)
                         AS BIGINT)))
                    ELSE 0 END) AS codes
      FROM corpus CROSS JOIN mml
    ),
    dq AS (
      SELECT vec_id,
             list_transform(range(1, len(codes) + 1), i ->
               CASE WHEN mxs[i] > mns[i]
                    THEN mns[i] + (CAST(codes[i] AS DOUBLE) + 0.5)
                         * (mxs[i] - mns[i]) / 256.0
                    ELSE mns[i] END) AS dqv
      FROM enc CROSS JOIN mml
    ),
    nrm AS (
      SELECT vec_id, dqv,
             sqrt(list_reduce(list_transform(dqv, x -> x * x),
                              (a, b) -> a + b)) AS nm
      FROM dq
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(floor(list_reduce(
                    list_transform(range(1, len(q.dqv) + 1),
                                   i -> q.dqv[i] * n.dqv[i]),
                    (a, b) -> a + b)
                  / (q.nm * n.nm) * 1000000 + 0.5) AS BIGINT) AS approx_q6
      FROM cand c
      JOIN nrm n ON n.vec_id = c.neighbor_id
      JOIN nrm q ON q.vec_id = c.query_id
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY approx_q6 DESC, neighbor_id
               ) AS ark
        FROM scored
      ) WHERE ark <= {SQ8_RERANK * 5}
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(floor(list_cosine_similarity(qv.vec, nv.vec) * 1000 + 0.5)
                  AS BIGINT) AS score_q3
      FROM short s
      JOIN corpus nv ON nv.vec_id = s.neighbor_id
      JOIN corpus qv ON qv.vec_id = s.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score_q3,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
             ) AS INT) AS rk
      FROM exact
    )
    SELECT query_id, neighbor_id, score_q3, rk FROM ranked WHERE rk <= {ANN_K}
    """,
)
def sim_topk_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × SQ8 composed approximate top-5 (round 9, the VERDICT-r8
    recommended serving shape): IVF's 4-probe candidate restriction
    shrinks the vectors TOUCHED (~nprobe/n_centroids of the corpus),
    SQ8's int8 codes shrink the bytes PER vector (4-8× vs floats) —
    the approximate stage's scan cost is the product of both savings,
    then exact cosine re-ranks the rerank×k shortlist
    (``operators/similarity.ivf_sq8_topk``).  Unlike ``sim_topk_sq8``
    (which by design scans every code row — SQ8 compresses, doesn't
    prune), this is the pruned variant production serving should use.
    Sample-init centroids and corpus-scan min/max keep every stage
    oracle-mirrorable; both artifacts follow the same frozen-artifact
    persistence story as IVF-PQ."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_sq8_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=ANN_K,
        n_centroids=IVF_N_CENTROIDS,
        nprobe=IVF_NPROBE,
        rerank=SQ8_RERANK,
    )


#: the sample-order subquery shared by the IVF-PQ serving oracle's
#: centroid and codebook CTEs (ivf_centroids' md5 rule)
_IVF_ORD = (
    "CAST(('0x' || substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 10000, vec_id"
)

#: serving-path PQ geometry: m=16 subspaces of 4 dims over the 64-dim
#: embeddings.  4-dim subvectors quantize far better than 16-dim ones
#: (the r6 recall ladder).  Round-8 knob sweep (tools/ann_knob_sweep.py,
#: sf0.1, recall@5 vs brute force): nprobe 4→8→16 at rerank=16 gives
#: 0.50→0.62→0.70; deepening the ADC shortlist to rerank=32 at nprobe=8
#: gives 0.72 at negligible serving cost (the exact re-rank still
#: touches only rerank×k = 160 full vectors per query) — that is the
#: declared-query operating point.  The production point is OFFLINE
#: TRAINING: kmeans_refine(3) coarse quantizer + pq_train_codebook(3)
#: gives 0.80 at nprobe=8/rerank=16 (0.82 at rerank=32) — same serving
#: plan, better artifacts, trained once at index build.  The declared
#: oracle stays on sample-init artifacts because 3 Lloyd iterations are
#: not reasonably mirrorable in one SQL statement; the trained path is
#: pytest-pinned instead (monotone-distortion + refine tests).
_PQ_M = 16
_PQ_SUB = 4
_PQ_NPROBE = 8
_PQ_RERANK = 32

#: one ADC subdistance: quantized squared-L2 of a {_PQ_SUB}-dim slice
#: of {v} against the codeword slice — mirrors similarity._sql_quant_sq_l2
#: (left-to-right accumulation in both engines)
_ADC_DIST = f"""CAST(floor(list_reduce(
               list_transform(range(1, {_PQ_SUB + 1}),
                 i -> ({{v}}[(s.subspace - 1) * {_PQ_SUB} + i]
                       - cvec[(s.subspace - 1) * {_PQ_SUB} + i])
                      * ({{v}}[(s.subspace - 1) * {_PQ_SUB} + i]
                         - cvec[(s.subspace - 1) * {_PQ_SUB} + i])),
               (acc, x) -> acc + x) * 1000000 + 0.5) AS BIGINT)"""

_IVF_PQ_SERVING_SQL = f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings ORDER BY {_IVF_ORD} LIMIT {IVF_N_CENTROIDS}
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT corpus.vec_id, cents.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY CAST(floor(list_cosine_similarity(vec, cvec) * 1000
                               + 0.5) AS BIGINT) DESC, cents.cid
               ) AS ark
        FROM corpus CROSS JOIN cents
      ) WHERE ark = 1
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, cents.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY CAST(floor(list_cosine_similarity(q.vec, cents.cvec)
                               * 1000 + 0.5) AS BIGINT) DESC, cents.cid
               ) AS prk
        FROM (SELECT * FROM corpus WHERE vec_id < 10) q CROSS JOIN cents
      ) WHERE prk <= {_PQ_NPROBE}
    ),
    cb AS (
      SELECT CAST(row_number() OVER (ORDER BY {_IVF_ORD}) - 1 AS INT) AS code,
             embedding::DOUBLE[] AS cvec
      FROM (SELECT * FROM embeddings ORDER BY {_IVF_ORD} LIMIT 16)
    ),
    subs AS (SELECT CAST(unnest(range(1, {_PQ_M + 1})) AS INT) AS subspace),
    codes AS (
      SELECT vec_id, subspace, code FROM (
        SELECT corpus.vec_id, s.subspace, cb.code,
               row_number() OVER (
                 PARTITION BY corpus.vec_id, s.subspace
                 ORDER BY {_ADC_DIST.format(v='vec')}, cb.code
               ) AS rk
        FROM corpus CROSS JOIN cb CROSS JOIN subs s
      ) WHERE rk = 1
    ),
    dtable AS (
      SELECT q.vec_id AS query_id, s.subspace, cb.code,
             {_ADC_DIST.format(v='q.vec')} AS pd_q6
      FROM (SELECT * FROM corpus WHERE vec_id < 10) q
      CROSS JOIN cb CROSS JOIN subs s
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a USING (cid)
      WHERE p.query_id <> a.vec_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(sum(d.pd_q6) AS BIGINT) AS adist_q6
      FROM cand c
      JOIN codes k ON k.vec_id = c.neighbor_id
      JOIN dtable d ON d.query_id = c.query_id
                   AND d.subspace = k.subspace AND d.code = k.code
      GROUP BY c.query_id, c.neighbor_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY adist_q6, neighbor_id
               ) AS ark
        FROM adc
      ) WHERE ark <= {_PQ_RERANK * 5}
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(floor(list_cosine_similarity(qv.vec, nv.vec) * 1000 + 0.5)
                  AS BIGINT) AS score_q3
      FROM shortlist s
      JOIN corpus nv ON nv.vec_id = s.neighbor_id
      JOIN corpus qv ON qv.vec_id = s.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score_q3,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
             ) AS INT) AS rk
      FROM exact
    )
    SELECT query_id, neighbor_id, score_q3, rk FROM ranked WHERE rk <= {ANN_K}
"""

#: the residual-encoded IVF-PQ oracle (round 9): same pipeline as
#: _IVF_PQ_SERVING_SQL but PQ codes quantize the coarse residual
#: x − centroid(cid) (Jégou et al.'s standard formulation).  New CTEs:
#: rcorpus (per-vector residual against its assigned centroid), cb
#: drawn from RESIDUAL space (residuals of the same md5-sampled 16),
#: qres (per probed (query, cid) pair, the query's residual against
#: THAT centroid), and the ADC join gains cid so each candidate is
#: scored in its own cell's residual geometry.
_IVF_PQ_RESIDUAL_SQL = f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings ORDER BY {_IVF_ORD} LIMIT {IVF_N_CENTROIDS}
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT corpus.vec_id, cents.cid,
               row_number() OVER (
                 PARTITION BY corpus.vec_id
                 ORDER BY CAST(floor(list_cosine_similarity(vec, cvec) * 1000
                               + 0.5) AS BIGINT) DESC, cents.cid
               ) AS ark
        FROM corpus CROSS JOIN cents
      ) WHERE ark = 1
    ),
    rcorpus AS (
      SELECT c.vec_id, a.cid,
             list_transform(range(1, 65), i -> c.vec[i] - ct.cvec[i])
               AS rvec
      FROM corpus c JOIN assign a USING (vec_id) JOIN cents ct USING (cid)
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, cents.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY CAST(floor(list_cosine_similarity(q.vec, cents.cvec)
                               * 1000 + 0.5) AS BIGINT) DESC, cents.cid
               ) AS prk
        FROM (SELECT * FROM corpus WHERE vec_id < 10) q CROSS JOIN cents
      ) WHERE prk <= {_PQ_NPROBE}
    ),
    cb AS (
      SELECT CAST(row_number() OVER (ORDER BY {_IVF_ORD}) - 1 AS INT)
               AS code,
             r.rvec AS cvec
      FROM (SELECT vec_id FROM embeddings ORDER BY {_IVF_ORD} LIMIT 16) s
      JOIN rcorpus r USING (vec_id)
    ),
    subs AS (SELECT CAST(unnest(range(1, {_PQ_M + 1})) AS INT) AS subspace),
    codes AS (
      SELECT vec_id, subspace, code FROM (
        SELECT r.vec_id, s.subspace, cb.code,
               row_number() OVER (
                 PARTITION BY r.vec_id, s.subspace
                 ORDER BY {_ADC_DIST.format(v='r.rvec')}, cb.code
               ) AS rk
        FROM rcorpus r CROSS JOIN cb CROSS JOIN subs s
      ) WHERE rk = 1
    ),
    qres AS (
      SELECT p.query_id, p.cid,
             list_transform(range(1, 65), i -> q.vec[i] - ct.cvec[i])
               AS rvec
      FROM probes p
      JOIN corpus q ON q.vec_id = p.query_id
      JOIN cents ct USING (cid)
    ),
    dtable AS (
      SELECT qr.query_id, qr.cid, s.subspace, cb.code,
             {_ADC_DIST.format(v='qr.rvec')} AS pd_q6
      FROM qres qr CROSS JOIN cb CROSS JOIN subs s
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, p.cid
      FROM probes p JOIN assign a USING (cid)
      WHERE p.query_id <> a.vec_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(sum(d.pd_q6) AS BIGINT) AS adist_q6
      FROM cand c
      JOIN codes k ON k.vec_id = c.neighbor_id
      JOIN dtable d ON d.query_id = c.query_id AND d.cid = c.cid
                   AND d.subspace = k.subspace AND d.code = k.code
      GROUP BY c.query_id, c.neighbor_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY adist_q6, neighbor_id
               ) AS ark
        FROM adc
      ) WHERE ark <= {_PQ_RERANK * 5}
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(floor(list_cosine_similarity(qv.vec, nv.vec) * 1000 + 0.5)
                  AS BIGINT) AS score_q3
      FROM shortlist s
      JOIN corpus nv ON nv.vec_id = s.neighbor_id
      JOIN corpus qv ON qv.vec_id = s.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score_q3,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
             ) AS INT) AS rk
      FROM exact
    )
    SELECT query_id, neighbor_id, score_q3, rk FROM ranked WHERE rk <= {ANN_K}
"""


@register("ann_ivf_pq_residual", _IVF_PQ_RESIDUAL_SQL)
def ann_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ top-5 (round 9): identical serving plan
    to ``ann_ivf_pq_serving`` except PQ codes quantize the coarse
    residual ``x − centroid(cid)`` — the standard IVF-PQ formulation
    (``operators/similarity.residualize``).  The ADC distance table is
    keyed by (query, probed cid) — the query's residual against each
    probed centroid — and stays a broadcastable artifact at nprobe×
    the raw table's size; candidates carry their probed cid (which IS
    their assigned cid, by the cid-equijoin), so every candidate is
    scored in its own cell's residual geometry.  Declared with
    sample-init artifacts for oracle mirrorability; the production
    point trains both the coarse quantizer (``kmeans_refine``) and a
    residual-space codebook (``pq_train_codebook`` over the
    residualized frame) on the SAME plan — see SCALE.md's serving
    ladder for the measured recall deltas (on the structureless
    synthetic embeddings residual ties raw under trained artifacts;
    on clustered real-world embeddings it is the standard lever).

    Same serving split as ``ann_ivf_pq_serving``: first call in the
    process builds and persists centroids + residual-space codebook +
    residual-encoded index zones + a MANIFEST carrying the residual
    flag (part of the index identity — search must agree with build);
    later calls load and only run probe → cid-keyed ADC → re-rank.
    Value-identical to the build-inline path (sample-init artifacts
    are deterministic, parquet/JSON round-trips exact — pinned by
    ``test_ivf_pq_residual_matches_inline_and_append``)."""
    import tempfile

    from ..operators import model_store

    emb = load_table(spark, sf_dir, "embeddings")
    base = _ANN_RESIDUAL_MODELS.get(sf_dir)
    if base is None:
        base = tempfile.mkdtemp(prefix="ann_residual_")
        cents = similarity.ivf_centroids(
            emb, "vec_id", "embedding", IVF_N_CENTROIDS
        )
        pairs = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in cents
        ]
        model_store.save_model(
            spark,
            f"{base}/centroids",
            "ivf_centroids",
            [[c, v] for c, v in pairs],
        )
        cent_lit = similarity.centroid_sql(pairs)
        resid = similarity.residualize(
            similarity.ivf_assign(
                emb.select("vec_id", "embedding"), cent_lit, "embedding"
            ),
            cent_lit,
            "embedding",
        )
        cb = similarity.sampled_codebook(resid, "vec_id", "rvec", _PQ_M, 16)
        model_store.save_pq_codebook(spark, f"{base}/codebook", cb)
        model_store.save_model(
            spark,
            f"{base}/manifest",
            "ivf_pq_manifest",
            {"residual": True, "m": _PQ_M, "n_codes": 16},
        )
        assigned, codes = similarity.ivf_pq_build_index(
            emb, m=_PQ_M, n_codes=16, codebook=cb, centroids=pairs,
            residual=True,
        )
        assigned.write.mode("overwrite").parquet(f"{base}/index_assigned")
        codes.write.mode("overwrite").parquet(f"{base}/index_codes")
        _ANN_RESIDUAL_MODELS[sf_dir] = base
    pairs_payload, _ = model_store.load_model(
        spark, f"{base}/centroids", "ivf_centroids"
    )
    pairs = [(int(c), [float(x) for x in v]) for c, v in pairs_payload]
    cb = model_store.load_pq_codebook(spark, f"{base}/codebook")
    manifest, _ = model_store.load_model(
        spark, f"{base}/manifest", "ivf_pq_manifest"
    )
    index = (
        spark.read.parquet(f"{base}/index_assigned"),
        spark.read.parquet(f"{base}/index_codes"),
    )
    return similarity.ivf_pq_search(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=ANN_K,
        nprobe=_PQ_NPROBE,
        m=manifest["m"],
        n_codes=manifest["n_codes"],
        rerank=_PQ_RERANK,
        codebook=cb,
        centroids=pairs,
        index=index,
        residual=manifest["residual"],
    )


#: process-local train-once cache for the ANN serving entry (the DSIR
#: serving pattern): sf_dir -> model-store base path
_ANN_SERVING_MODELS: dict[str, str] = {}

#: train-once cache for the append-maintained serving entry (sf_dir ->
#: model-store base path with merged base+delta zones)
_ANN_APPEND_MODELS: dict[str, str] = {}

#: same train-once cache for the residual-encoded serving entry
#: (sf_dir -> model-store base path; the manifest under it carries the
#: residual flag as index identity)
_ANN_RESIDUAL_MODELS: dict[str, str] = {}


@register("ann_ivf_pq_serving", _IVF_PQ_SERVING_SQL)
def ann_ivf_pq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ serving path as a declared query (round 7):
    coarse quantizer restricts to ``_PQ_NPROBE`` = 8 inverted lists →
    PQ ADC scores the candidates from their 16-code table → the top
    rerank×k re-rank with exact cosine → top-5.  The full
    index-vs-serve split of a production ANN stack: the first call in a
    process BUILDS — 16 IVF centroids + 16×16 sample-init PQ codebook
    (4-dim subvectors) persisted through the model store, plus the two
    corpus-sized index tables (coarse assignments and PQ codes,
    ``ivf_pq_build_index``) persisted as parquet zones; every
    subsequent run LOADS model + index and only runs probe → ADC join →
    exact re-rank, never re-encoding the corpus.  Knobs are
    recall-measured at sf0.1 (round-8 sweep, see the ``_PQ_M`` block
    comment): nprobe=8/rerank=32 lifts recall@5 to 0.72 from the
    round-7 nprobe=4 point's 0.50; offline-trained artifacts
    (``kmeans_refine`` + ``pq_train_codebook``) reach 0.80 on the SAME
    serving plan and are the production configuration (SCALE.md).
    Value-identical to the build-inline path: sample-init artifacts are
    deterministic and JSON/parquet round-trips are exact."""
    import tempfile

    from ..operators import model_store

    emb = load_table(spark, sf_dir, "embeddings")
    base = _ANN_SERVING_MODELS.get(sf_dir)
    if base is None:
        base = tempfile.mkdtemp(prefix="ann_serving_")
        cents = similarity.ivf_centroids(
            emb, "vec_id", "embedding", IVF_N_CENTROIDS
        )
        pairs = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in cents
        ]
        model_store.save_model(
            spark,
            f"{base}/centroids",
            "ivf_centroids",
            [[c, v] for c, v in pairs],
        )
        cb = similarity.sampled_codebook(
            emb, "vec_id", "embedding", _PQ_M, 16
        )
        model_store.save_pq_codebook(spark, f"{base}/codebook", cb)
        assigned, codes = similarity.ivf_pq_build_index(
            emb, m=_PQ_M, n_codes=16, codebook=cb, centroids=pairs
        )
        assigned.write.mode("overwrite").parquet(f"{base}/index_assigned")
        codes.write.mode("overwrite").parquet(f"{base}/index_codes")
        # build-time recall ladder (round-10): measured on the persisted
        # zones so serving can AUTOTUNE nprobe from a recall target
        # (similarity.resolve_nprobe) instead of a magic knob — the
        # measurement is part of the index identity, like the codebook
        ladder = similarity.measure_recall_ladder(
            emb,
            emb.filter(F.col("vec_id") < 10),
            k=ANN_K,
            nprobes=(2, 4, 8, 16),
            m=_PQ_M,
            n_codes=16,
            rerank=_PQ_RERANK,
            codebook=cb,
            centroids=pairs,
            index=(
                spark.read.parquet(f"{base}/index_assigned"),
                spark.read.parquet(f"{base}/index_codes"),
            ),
        )
        model_store.save_model(
            spark,
            f"{base}/manifest",
            "ivf_pq_manifest",
            {
                "residual": False,
                "m": _PQ_M,
                "n_codes": 16,
                "nprobe": _PQ_NPROBE,
                "rerank": _PQ_RERANK,
                "recall_ladder": ladder,
                # index size the ladder was measured at — the staleness
                # anchor for resolve_nprobe after appends (round 11)
                "ladder_index_n": spark.read.parquet(
                    f"{base}/index_assigned"
                ).count(),
            },
        )
        _ANN_SERVING_MODELS[sf_dir] = base
    pairs_payload, _ = model_store.load_model(
        spark, f"{base}/centroids", "ivf_centroids"
    )
    pairs = [(int(c), [float(x) for x in v]) for c, v in pairs_payload]
    cb = model_store.load_pq_codebook(spark, f"{base}/codebook")
    index = (
        spark.read.parquet(f"{base}/index_assigned"),
        spark.read.parquet(f"{base}/index_codes"),
    )
    return similarity.ivf_pq_search(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=ANN_K,
        nprobe=_PQ_NPROBE,
        m=_PQ_M,
        n_codes=16,
        rerank=_PQ_RERANK,
        codebook=cb,
        centroids=pairs,
        index=index,
    )


@register("ann_append_serving", _IVF_PQ_SERVING_SQL)
def ann_append_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance as a DRIVER-CHECKED serving path
    (round 9): build the IVF-PQ index on a base slice of the corpus,
    ``ivf_pq_index_append`` the remaining delta against the SAME frozen
    centroids/codebook (map-only encode of the delta — the index
    refresh never re-touches the already-indexed corpus), union the
    zones, and serve.  Because both halves are encoded with identical
    frozen artifacts, merged zones are row-identical to a full rebuild,
    so this query shares ``ann_ivf_pq_serving``'s oracle verbatim and
    must produce the SAME hash — the append==rebuild contract
    (pytest-pinned in ``test_ivf_pq_residual_matches_inline_and_append``
    and the frozen-artifact staleness test) under the driver's
    value-hash gate.  Artifacts are derived from the FULL corpus (the
    md5 sample-init rule needs no training pass), as a production
    refresh cadence would reuse the artifacts of the last rebuild.

    Serving split like its rebuild twin: the first call in the process
    builds base, appends delta, and persists the MERGED zones beside
    the frozen artifacts; timed runs load + serve — so the bench entry
    states the operational claim directly: an append-maintained index
    serves at the same latency as a rebuilt one."""
    import tempfile

    from ..operators import model_store

    emb = load_table(spark, sf_dir, "embeddings")
    base_dir = _ANN_APPEND_MODELS.get(sf_dir)
    if base_dir is None:
        base_dir = tempfile.mkdtemp(prefix="ann_append_")
        cents = similarity.ivf_centroids(
            emb, "vec_id", "embedding", IVF_N_CENTROIDS
        )
        pairs = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in cents
        ]
        model_store.save_model(
            spark,
            f"{base_dir}/centroids",
            "ivf_centroids",
            [[c, v] for c, v in pairs],
        )
        cb = similarity.sampled_codebook(
            emb, "vec_id", "embedding", _PQ_M, 16
        )
        model_store.save_pq_codebook(spark, f"{base_dir}/codebook", cb)
        base = emb.filter(F.col("vec_id") % 5 != 0)
        delta = emb.filter(F.col("vec_id") % 5 == 0)
        a_base, c_base = similarity.ivf_pq_build_index(
            base, m=_PQ_M, n_codes=16, codebook=cb, centroids=pairs
        )
        a_base.write.mode("overwrite").parquet(
            f"{base_dir}/index_assigned"
        )
        c_base.write.mode("overwrite").parquet(f"{base_dir}/index_codes")
        a_delta, c_delta = similarity.ivf_pq_index_append(delta, cb, pairs)
        a_delta.write.mode("append").parquet(f"{base_dir}/index_assigned")
        c_delta.write.mode("append").parquet(f"{base_dir}/index_codes")
        _ANN_APPEND_MODELS[sf_dir] = base_dir
    pairs_payload, _ = model_store.load_model(
        spark, f"{base_dir}/centroids", "ivf_centroids"
    )
    pairs = [(int(c), [float(x) for x in v]) for c, v in pairs_payload]
    cb = model_store.load_pq_codebook(spark, f"{base_dir}/codebook")
    index = (
        spark.read.parquet(f"{base_dir}/index_assigned"),
        spark.read.parquet(f"{base_dir}/index_codes"),
    )
    return similarity.ivf_pq_search(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=ANN_K,
        nprobe=_PQ_NPROBE,
        m=_PQ_M,
        n_codes=16,
        rerank=_PQ_RERANK,
        codebook=cb,
        centroids=pairs,
        index=index,
    )


#: deletion predicate for the ANN tombstone entries — 10% of the
#: indexed vectors, disjoint from the query ids (vec_id < 10) so the
#: probe set never shrinks
_ANN_DELETE_PRED = "(vec_id >= 10 AND vec_id % 10 = 3)"

#: the delete/compact oracle: the shared IVF-PQ oracle with tombstoned
#: vectors removed from the ASSIGN CTE only — candidates come from the
#: assignment equi-join, so dropping a vector's assignment makes its
#: codes unreachable, which is exactly serving's anti-join; the frozen
#: artifacts (cents/cb CTEs) stay derived from the FULL corpus because
#: deletion never retrains the quantizer (rebuild-on-remaining reuses
#: the build's artifacts, same as the Spark side).
_IVF_PQ_DELETE_SQL = _IVF_PQ_SERVING_SQL.replace(
    "WHERE ark = 1",
    f"WHERE ark = 1 AND NOT {_ANN_DELETE_PRED}",
    1,
)
assert _IVF_PQ_DELETE_SQL != _IVF_PQ_SERVING_SQL

#: per-process tombstoned / compacted index bases for the ANN delete
#: lifecycle entries (the _BM25_DELETE_ZONES discipline)
_ANN_DELETE_MODELS: dict[str, str] = {}
_ANN_COMPACT_MODELS: dict[str, str] = {}


def _ann_plain_index(spark: SparkSession, emb, base_dir: str) -> None:
    """Build + persist a fixed-knob IVF-PQ index (centroids, codebook,
    manifest, assigned + codes zones) under ``base_dir`` — the
    ann_ivf_pq_serving build without the recall-ladder measurement
    (the delete entries serve at pinned knobs, so the ladder would be
    dead weight built once per process)."""
    from ..operators import model_store

    cents = similarity.ivf_centroids(
        emb, "vec_id", "embedding", IVF_N_CENTROIDS
    )
    pairs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cents
    ]
    model_store.save_model(
        spark,
        f"{base_dir}/centroids",
        "ivf_centroids",
        [[c, v] for c, v in pairs],
    )
    cb = similarity.sampled_codebook(emb, "vec_id", "embedding", _PQ_M, 16)
    model_store.save_pq_codebook(spark, f"{base_dir}/codebook", cb)
    model_store.save_model(
        spark,
        f"{base_dir}/manifest",
        "ivf_pq_manifest",
        {
            "residual": False,
            "m": _PQ_M,
            "n_codes": 16,
            "nprobe": _PQ_NPROBE,
            "rerank": _PQ_RERANK,
        },
    )
    assigned, codes = similarity.ivf_pq_build_index(
        emb, m=_PQ_M, n_codes=16, codebook=cb, centroids=pairs
    )
    assigned.write.mode("overwrite").parquet(f"{base_dir}/index_assigned")
    codes.write.mode("overwrite").parquet(f"{base_dir}/index_codes")


def _ann_serve_from(spark: SparkSession, emb, base: str) -> DataFrame:
    """Load artifacts + zones from ``base`` and serve the standard
    probe set (vec_id < 10) at the pinned knobs, auto-detecting any
    pending tombstones zone (None → the plan is byte-identical to
    pre-deletion serving)."""
    from ..operators import model_store

    pairs_payload, _ = model_store.load_model(
        spark, f"{base}/centroids", "ivf_centroids"
    )
    pairs = [(int(c), [float(x) for x in v]) for c, v in pairs_payload]
    cb = model_store.load_pq_codebook(spark, f"{base}/codebook")
    return similarity.ivf_pq_search(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=ANN_K,
        nprobe=_PQ_NPROBE,
        m=_PQ_M,
        n_codes=16,
        rerank=_PQ_RERANK,
        codebook=cb,
        centroids=pairs,
        index=(
            spark.read.parquet(f"{base}/index_assigned"),
            spark.read.parquet(f"{base}/index_codes"),
        ),
        tombstones=zones.read_tombstones(
            spark, [base], similarity.ANN_TOMBSTONES_SCHEMA
        ),
    )


def _ann_tombstoned_base(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-per-process: a full IVF-PQ index with 10% of the
    vectors (``_ANN_DELETE_PRED``) tombstoned — shared by the delete
    and compacted serving entries (one index, one deletion state; the
    `_tombstoned_index_root` pattern from the text lane)."""
    base = _ANN_DELETE_MODELS.get(sf_dir)
    if base is None:
        import tempfile

        base = tempfile.mkdtemp(prefix="ann_delete_")
        emb = load_table(spark, sf_dir, "embeddings")
        _ann_plain_index(spark, emb, base)
        similarity.delete_from_ann_index(
            spark, base, emb.select("vec_id").where(_ANN_DELETE_PRED)
        )
        _ANN_DELETE_MODELS[sf_dir] = base
    return base


@register("ann_delete_serving", _IVF_PQ_DELETE_SQL)
def ann_delete_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index DELETION without rebuild, oracle-gated — the
    `bm25_delete_serving` lifecycle applied to the vector lane (round
    15, closing the one asymmetry the r14 text-lane closure left): 10%
    of the indexed vectors are tombstoned on a fully-built persisted
    IVF-PQ index (`similarity.delete_from_ann_index` — a delete-batch
    -sized zone append, never a corpus re-encode), and serving
    anti-joins them out of the assigned zone BEFORE candidate
    generation.  Because assign/encode are per-row maps, the filtered
    index is EXACTLY the index rebuilt on the remaining vectors under
    the same frozen codebook/centroids — the oracle recomputes the
    full pipeline with the tombstoned vectors removed from the
    assignment, so delete == rebuild-on-remaining sits under the
    driver's hash gate.  At 100 TB this is the takedown path: delete
    latency ∝ delete batch, serving overhead is one broadcast
    anti-join, and the next compaction folds the tombstones out
    physically (``ann_compacted_serving``)."""
    return _ann_serve_from(
        spark,
        load_table(spark, sf_dir, "embeddings"),
        _ann_tombstoned_base(spark, sf_dir),
    )


@register("ann_compacted_serving", _IVF_PQ_DELETE_SQL)
def ann_compacted_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN delete lifecycle's physical fold, oracle-gated: the
    SAME tombstoned index `ann_delete_serving` reads is compacted to a
    fresh base (`similarity.compact_ann_index` — assigned/codes zones
    anti-joined once, frozen artifacts copied verbatim, no tombstones
    zone left) and served WITHOUT any per-query adjustment.  Shares
    the delete entry's oracle: compacted == tombstone-adjusted ==
    rebuild-on-remaining, closing the associativity triangle for the
    vector lane the way `bm25_compacted_serving` closed it for text.
    At 100 TB compaction is the periodic job that bounds the tombstone
    set (and the serving anti-join input) at one compaction
    interval."""
    base = _ANN_COMPACT_MODELS.get(sf_dir)
    if base is None:
        import tempfile

        base = similarity.compact_ann_index(
            spark,
            _ann_tombstoned_base(spark, sf_dir),
            tempfile.mkdtemp(prefix="ann_compacted_"),
        )
        _ANN_COMPACT_MODELS[sf_dir] = base
    return _ann_serve_from(
        spark, load_table(spark, sf_dir, "embeddings"), base
    )


@register(
    "hard_negative_mining",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
             label AS nlabel
      FROM embeddings
    ),
    scored AS (
      SELECT query_id, neighbor_id, nlabel,
             CAST(floor(list_cosine_similarity(qv, cv) * 1000 + 0.5) AS BIGINT)
                 AS score_q3
      FROM c CROSS JOIN q
      WHERE qlabel <> nlabel
    ),
    ranked AS (
      SELECT query_id, neighbor_id, nlabel, score_q3,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
             ) AS INT) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, nlabel, score_q3, rk
    FROM ranked WHERE rk <= {ANN_K}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hard negatives per probe vector: most-similar corpus
    vectors with a DIFFERENT label (operators/similarity.hard_negatives)
    — the contrastive-training mining step."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id") < 10), k=ANN_K
    )


@register(
    "ann_recall_eval",
    f"""
    WITH brute AS ({_COSINE_TOPK_SQL}),
    lsh AS ({_LSH_TOPK_SQL}),
    ivf AS ({_IVF_SQL}),
    methods AS (
      SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf
      UNION ALL
      SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
    ),
    scored AS (
      SELECT m.method,
             CASE WHEN b.query_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM methods m
      LEFT JOIN brute b
        ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
    ),
    expected AS (SELECT CAST(count(*) AS BIGINT) AS n_expected FROM brute)
    SELECT method,
           CAST(count(*) AS BIGINT) AS n_returned,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           n_expected,
           CAST(SUM(hit) AS DOUBLE) / CAST(n_expected AS DOUBLE)
               AS recall_at_k
    FROM scored CROSS JOIN expected
    GROUP BY method, n_expected
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH and IVF indexes vs brute-force ground truth
    over the 10-vector probe set — the tuning gate for every
    approximate-search knob (n_planes, nprobe)."""
    # one pinned corpus frame feeds brute truth + both indexes
    # (round 16, the ann_rrf_fusion treatment)
    emb = pin(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    )
    return similarity.ann_recall(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=ANN_K,
        n_planes=8,
        n_centroids=IVF_N_CENTROIDS,
        nprobe=IVF_NPROBE,
    )


@register(
    "ann_mrr_eval",
    f"""
    WITH brute AS ({_COSINE_TOPK_SQL}),
    lsh AS ({_LSH_TOPK_SQL}),
    ivf AS ({_IVF_SQL}),
    methods AS (
      SELECT 'ivf' AS method, query_id, neighbor_id, rk FROM ivf
      UNION ALL
      SELECT 'lsh' AS method, query_id, neighbor_id, rk FROM lsh
    ),
    hits AS (
      SELECT m.method, m.query_id, CAST(min(m.rk) AS BIGINT) AS first_hit
      FROM methods m
      JOIN brute b
        ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
      GROUP BY 1, 2
    ),
    qids AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10),
    mm AS (SELECT 'ivf' AS method UNION ALL SELECT 'lsh'),
    rr AS (
      SELECT mm.method, q.query_id,
             CAST(coalesce(1000000 // h.first_hit, 0) AS BIGINT) AS rr_micro
      FROM qids q CROSS JOIN mm
      LEFT JOIN hits h ON h.method = mm.method AND h.query_id = q.query_id
    )
    SELECT method,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(rr_micro) AS BIGINT) AS sum_rr_micro,
           CASE WHEN count(*) > 0
                THEN CAST(sum(rr_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     / 1000000.0
                END AS mrr
    FROM rr GROUP BY method
    """,
)
def ann_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@5 of the LSH and IVF indexes vs brute-force ground truth —
    the rank-sensitive companion to ann_recall_eval (rewards a true
    neighbor placed FIRST, the retrieval-pipeline tuning metric).
    Reciprocal ranks are exact integers (1000000 DIV first_hit, no-hit
    queries contribute 0); the only double is the final mean
    (operators/similarity.ann_rank_quality)."""
    # one pinned corpus frame feeds brute truth + both indexes
    # (round 16, the ann_rrf_fusion treatment)
    emb = pin(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    )
    return similarity.ann_rank_quality(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=ANN_K,
        n_planes=8,
        n_centroids=IVF_N_CENTROIDS,
        nprobe=IVF_NPROBE,
    )


_NDCG_IDCG_MICRO = similarity.ndcg_ideal_micro(ANN_K)


@register(
    "ann_ndcg_eval",
    f"""
    WITH brute AS ({_COSINE_TOPK_SQL}),
    lsh AS ({_LSH_TOPK_SQL}),
    ivf AS ({_IVF_SQL}),
    methods AS (
      SELECT 'ivf' AS method, query_id, neighbor_id, rk FROM ivf
      UNION ALL
      SELECT 'lsh' AS method, query_id, neighbor_id, rk FROM lsh
    ),
    gains AS (
      SELECT m.method, m.query_id,
             CAST(sum(CAST(floor(1000000.0
                    / log2(CAST(m.rk AS DOUBLE) + 1.0)) AS BIGINT))
                  AS BIGINT) AS dcg_micro
      FROM methods m
      JOIN brute b
        ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
      GROUP BY 1, 2
    ),
    qids AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10),
    mm AS (SELECT 'ivf' AS method UNION ALL SELECT 'lsh'),
    per AS (
      SELECT mm.method, q.query_id,
             CAST(coalesce(g.dcg_micro, 0) AS BIGINT) AS dcg_micro
      FROM qids q CROSS JOIN mm
      LEFT JOIN gains g ON g.method = mm.method AND g.query_id = q.query_id
    )
    SELECT method,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(dcg_micro) AS BIGINT) AS sum_dcg_micro,
           CAST({_NDCG_IDCG_MICRO} AS BIGINT) AS idcg_micro,
           CASE WHEN count(*) > 0
                THEN CAST(sum(dcg_micro) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / {_NDCG_IDCG_MICRO}.0
                END AS ndcg
    FROM per GROUP BY method
    """,
)
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 of the LSH and IVF indexes vs brute-force ground truth —
    completes the driver-gated rank-metric family (recall@k sees set
    overlap, MRR only the FIRST hit; nDCG rewards every hit discounted
    by log2(rank+1)).  Determinism: each positional gain quantizes to
    floor(1e6/log2(rk+1)) BEFORE summation (rk has five possible
    values, so the libm surface is five points, mirrored op-for-op per
    the round-5 ln/log2 rule) and the ideal DCG is a precomputed
    integer constant; the only double is the final mean
    (operators/similarity.ann_ndcg)."""
    # one pinned corpus frame feeds brute truth + both indexes
    # (round 16, the ann_rrf_fusion treatment)
    emb = pin(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    )
    return similarity.ann_ndcg(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=ANN_K,
        n_planes=8,
        n_centroids=IVF_N_CENTROIDS,
        nprobe=IVF_NPROBE,
    )


@register(
    "embedding_neardup",
    f"""
    WITH {_BUCKETS_SQL.format(n_planes=4)},
    v AS (
      SELECT b.vec_id, e.embedding::DOUBLE[] AS vec, b.bucket
      FROM buckets b JOIN embeddings e USING (vec_id)
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(floor(list_cosine_similarity(a.vec, b.vec) * 1000 + 0.5)
                AS BIGINT) AS score_q3
    FROM v a JOIN v b USING (bucket)
    WHERE a.vec_id < b.vec_id
      AND CAST(floor(list_cosine_similarity(a.vec, b.vec) * 1000 + 0.5)
               AS BIGINT) >= {int(NEARDUP_T * 1000)}
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within LSH buckets (cos ≥ 0.35)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(emb, threshold=NEARDUP_T)


@register(
    "knn_join_lsh",
    f"""
    WITH {_BUCKETS_SQL.format(n_planes=8)},
    v AS (
      SELECT b.vec_id, e.embedding::DOUBLE[] AS vec, b.bucket
      FROM buckets b JOIN embeddings e USING (vec_id)
    ),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(floor(list_cosine_similarity(a.vec, b.vec) * 1000 + 0.5)
                  AS BIGINT) AS score_q3
      FROM v a JOIN v b USING (bucket)
      WHERE a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score_q3,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score_q3 DESC, neighbor_id
             ) AS INT) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, score_q3, rk FROM ranked WHERE rk <= 3
    """,
)
def knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-corpus k-NN join: every vector's approximate top-3 neighbors
    from its LSH bucket (both sides shuffle on bucket — the kNN-join
    shape where no side broadcasts)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_join_lsh(emb, k=3)


#: chunk window parameters (tokens)
CHUNK_SIZE = 40
CHUNK_STRIDE = 30


@register(
    "doc_chunks",
    f"""
    WITH {_DOCS_CTE},
    starts AS (
      SELECT doc, toks,
             unnest(range(1, greatest(len(toks) - {CHUNK_SIZE} + 1, 1) + 1,
                          {CHUNK_STRIDE})) AS start
      FROM toks WHERE len(toks) > 0
    )
    SELECT doc,
           CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
           array_to_string(list_slice(toks, start,
                                      start + {CHUNK_SIZE} - 1), ' ')
               AS chunk,
           CAST(len(list_slice(toks, start, start + {CHUNK_SIZE} - 1))
                AS INT) AS n_tokens
    FROM starts
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token windows with overlap (40-token chunks, stride 30)
    — the pre-tokenization step of a training-data pipeline."""
    return chunking.chunk_documents(
        load_table(spark, sf_dir, "documents"),
        size=CHUNK_SIZE,
        stride=CHUNK_STRIDE,
    )


@register(
    "repetition_stats",
    f"""
    WITH {_DOCS_CTE},
    grams AS (
      SELECT doc,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i+1])
                  ELSE []::VARCHAR[] END AS g
      FROM toks
    )
    SELECT doc,
           CAST(len(g) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
           CASE WHEN len(g) > 0
                THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                           / CAST(len(g) AS DOUBLE)
                ELSE 0.0 END AS repetition
    FROM grams
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram repetition ratio (Gopher/C4-style quality signal)."""
    return textstats.repetition_stats(load_table(spark, sf_dir, "documents"))


#: token budget per packed training sequence
PACK_BUDGET = 64


@register(
    "sequence_packing",
    f"""
    WITH {_DOCS_CTE},
    starts AS (
      SELECT doc, toks,
             unnest(range(1, greatest(len(toks) - {CHUNK_SIZE} + 1, 1) + 1,
                          {CHUNK_STRIDE})) AS start
      FROM toks WHERE len(toks) > 0
    ),
    chunks AS (
      SELECT doc,
             CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
             CAST(len(list_slice(toks, start, start + {CHUNK_SIZE} - 1))
                  AS INT) AS n_tokens
      FROM starts
    ),
    runs AS (
      SELECT doc, chunk_id, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY doc ORDER BY chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM chunks
    )
    SELECT doc, chunk_id, n_tokens,
           CAST((cum - n_tokens) // {PACK_BUDGET} AS INT) AS seq_id,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM runs
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: chunks assign to training sequences by their
    running token offset within the document ({PACK_BUDGET}-token budget)
    — a per-doc window cumulative sum, state bounded per partition key.
    Offset-based (not best-fit) packing so assignment is a pure window
    function: deterministic, distributed, no iterative bin state."""
    from pyspark.sql import Window

    chunks = chunking.chunk_documents(
        load_table(spark, sf_dir, "documents"),
        size=CHUNK_SIZE,
        stride=CHUNK_STRIDE,
    )
    w = (
        Window.partitionBy("doc")
        .orderBy("chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = chunks.withColumn("cum", F.sum("n_tokens").over(w))
    return runs.select(
        "doc",
        "chunk_id",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / PACK_BUDGET)
        .cast("int")
        .alias("seq_id"),
        F.col("cum").cast("long").alias("cum_tokens"),
    )


_SEQ_PACK_SQL = f"""
    WITH {_DOCS_CTE},
    starts AS (
      SELECT doc, toks,
             unnest(range(1, greatest(len(toks) - {CHUNK_SIZE} + 1, 1) + 1,
                          {CHUNK_STRIDE})) AS start
      FROM toks WHERE len(toks) > 0
    ),
    chunks AS (
      SELECT doc,
             CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
             CAST(len(list_slice(toks, start, start + {CHUNK_SIZE} - 1))
                  AS INT) AS n_tokens
      FROM starts
    ),
    runs AS (
      SELECT doc, chunk_id, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY doc ORDER BY chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM chunks
    )
    SELECT doc, chunk_id, n_tokens,
           CAST((cum - n_tokens) // {PACK_BUDGET} AS INT) AS seq_id,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM runs
    """


@register(
    "packing_efficiency",
    f"""
    WITH sp AS ({_SEQ_PACK_SQL})
    SELECT doc,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT seq_id) * {PACK_BUDGET} AS BIGINT)
               AS capacity,
           CAST(SUM(n_tokens) AS DOUBLE)
               / CAST(count(DISTINCT seq_id) * {PACK_BUDGET} AS DOUBLE)
               AS fill_ratio
    FROM sp
    GROUP BY doc
    """,
)
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-planning profile over the packed sequences: per document,
    how full its training sequences are (fill_ratio = tokens /
    sequence-slots×budget) — the padding-waste signal a pipeline uses to
    pick chunk/stride/budget before burning cluster time.  One hash agg
    over the packing output; exact integer counts, one final double
    division."""
    sp = sequence_packing(spark, sf_dir)
    return sp.groupBy("doc").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.countDistinct("seq_id").cast("bigint").alias("n_seqs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.countDistinct("seq_id") * PACK_BUDGET)
        .cast("bigint")
        .alias("capacity"),
        (
            F.sum("n_tokens").cast("double")
            / (F.countDistinct("seq_id") * PACK_BUDGET).cast("double")
        ).alias("fill_ratio"),
    )


@register(
    "lang_sampling_weights",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(floor(1000000.0 / sqrt(CAST(count(*) AS DOUBLE)) + 0.5)
                AS BIGINT) AS weight_q
    FROM documents
    GROUP BY lang
    """,
)
def lang_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language inverse-sqrt sampling weights (temperature-style
    rebalancing, alpha=0.5): weight ∝ 1/√n_l, so the sampled corpus
    upweights low-resource languages.  sqrt is IEEE correctly-rounded
    (unlike ln/pow) so the quantized weight is engine-reproducible."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.floor(
                F.lit(1_000_000.0) / F.sqrt(F.col("n_docs").cast("double"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("weight_q"),
        )
    )


# --- multimodal plumbing -----------------------------------------------------


@register(
    "multimodal_extract",
    """
    SELECT doc_id AS asset_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS byte_md5,
           CAST(('0x' || substr(md5(text), 1, 2)) AS INT) / 255.0 AS f0,
           CAST(('0x' || substr(md5(text), 3, 2)) AS INT) / 255.0 AS f1,
           CAST(('0x' || substr(md5(text), 5, 2)) AS INT) / 255.0 AS f2,
           CAST(('0x' || substr(md5(text), 7, 2)) AS INT) / 255.0 AS f3
    FROM documents
    """,
)
def multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction in built-in column expressions
    (documents' UTF-8 bytes stand in for media payloads; the oracle
    reproduces the deterministic md5 extractor)."""
    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.documents_as_assets(docs)
    feats = multimodal.extract_features(assets)
    return feats.select(
        "asset_id",
        "n_bytes",
        "byte_md5",
        F.col("features")[0].alias("f0"),
        F.col("features")[1].alias("f1"),
        F.col("features")[2].alias("f2"),
        F.col("features")[3].alias("f3"),
    )


# --- streaming (batch form of the streaming aggregate) -----------------------


@register(
    "stream_window_agg",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS VARCHAR)
               AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.incremental.windowed_event_counts on the batch events
    frame — the identical code path Structured Streaming runs with a
    watermark."""
    ev = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(ev)
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "event_type",
        "n_events",
        "value_sum",
    )


# corpus_clean_final's oracle embeds the quality and lang CTE bodies,
# which are defined mid-module — splice them in now that both exist
REGISTRY["corpus_clean_final"] = (
    REGISTRY["corpus_clean_final"][0],
    REGISTRY["corpus_clean_final"][1]
    .replace("{quality}", _QUALITY_SQL)
    .replace("{lang}", _lang_sql()),
)


# --- link-graph centrality (operators/graph.py) -------------------------------

#: PageRank damping and iteration count for the declared query (fixed so
#: the unrolled oracle matches the Spark loop exactly)
PR_ITERS = 6


def _pagerank_oracle(iters: int = PR_ITERS) -> str:
    """Unrolled-CTE DuckDB mirror of graph.pagerank_int on the
    customer↔supplier trade graph: r{k} is iteration k, every operation
    the same BIGINT floor arithmetic (`//` and Spark's `div` both
    truncate; all values here are positive, so trunc == floor)."""
    steps = ",\n".join(
        f"""
    r{k} AS (
      SELECT ed.dst AS node,
             CAST((SELECT base FROM consts)
                  + (85 * CAST(sum(p.r // ed.deg) AS BIGINT)) // 100
                  AS BIGINT) AS r
      FROM r{k - 1} p JOIN edges_d ed ON p.node = ed.src
      GROUP BY ed.dst
    )"""
        for k in range(1, iters + 1)
    )
    return f"""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT 2 * c AS src, 2 * s + 1 AS dst FROM pairs
      UNION ALL
      SELECT 2 * s + 1 AS src, 2 * c AS dst FROM pairs
    ),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ),
    consts AS (
      SELECT CAST(1000000000 // count(*) AS BIGINT) AS init,
             CAST(150000000 // count(*) AS BIGINT) AS base
      FROM deg
    ),
    edges_d AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    r0 AS (SELECT src AS node, (SELECT init FROM consts) AS r FROM deg),
    {steps}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(node // 2 AS BIGINT) AS node_key,
           CAST(r AS BIGINT) AS pagerank_nano
    FROM r{iters}
    ORDER BY pagerank_nano DESC, node_type, node_key
    LIMIT 20
    """


@register("pagerank_centrality", _pagerank_oracle())
def pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (graph.pagerank_int) on the symmetrized
    customer↔supplier trade graph — who-buys-from-whom, the corpus
    curation analog of CommonCrawl domain ranking.  Node encoding packs
    both key spaces into one BIGINT (2·custkey / 2·suppkey+1) so the
    iteration state is a single integer pair per node.  Top-20 by final
    rank, fully deterministic tie-break."""
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # the symmetrizing union references pairs TWICE; each reference
    # re-expands the lineitem⋈orders distinct — pin it to one execution
    # (round 16, the shared-subtree rule)
    pairs = pin(pairs)
    cust = (F.col("c") * 2).cast("long")
    supp = (F.col("s") * 2 + 1).cast("long")
    edges = pairs.select(cust.alias("src"), supp.alias("dst")).union(
        pairs.select(supp.alias("src"), cust.alias("dst"))
    )
    pr = graph.pagerank_int(edges, iters=PR_ITERS)
    return (
        pr.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").cast("long").alias("node_key"),
            F.col("r").cast("long").alias("pagerank_nano"),
        )
        .orderBy(F.desc("pagerank_nano"), "node_type", "node_key")
        .limit(20)
    )


# --- weighted sampling (operators/sampling.py PPS path) -----------------------

#: target sample size for the declared PPS query
PPS_K = 50


@register(
    "pps_sample_docs",
    f"""
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS wgt,
             CAST(('0x' || substr(md5('pps:' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 256 AS bkt
      FROM documents WHERE n_chars > 0
    ),
    c AS (
      SELECT doc_id, wgt,
             CAST(sum(wgt) OVER (ORDER BY bkt, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(sum(wgt) OVER () AS BIGINT) AS wtot
      FROM w
    ),
    p AS (SELECT doc_id, wgt, cum, greatest(wtot // {PPS_K}, 1) AS step FROM c),
    h AS (
      SELECT doc_id, wgt, cum,
             (cum - 1 + step - (step // 2)) // step
               - (cum - wgt - 1 + step - (step // 2)) // step AS n_hits
      FROM p
    )
    SELECT doc_id, wgt AS weight, cum AS cum_w, CAST(n_hits AS BIGINT) AS n_hits
    FROM h WHERE n_hits >= 1 ORDER BY doc_id
    """,
)
def pps_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample (~{k} docs, probability ∝ n_chars) via
    sampling.pps_systematic_sample — the char-budget-aware subsampling a
    token-budgeted corpus needs (uniform doc sampling under-represents
    long documents' share of the token budget).  The cumulative-weight
    line is the distributed bucketed_cumsum (no single-partition global
    window); selection arithmetic is all-BIGINT so the sample is
    bit-identical across engines and partitionings."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    sel = sampling.pps_systematic_sample(
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars", k=PPS_K
    )
    return (
        sel.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            F.col("cum").alias("cum_w"),
            "n_hits",
        )
        .orderBy("doc_id")
    )


# --- hybrid-retrieval fusion (operators/similarity.rrf_fuse) ------------------


def _rrf_oracle() -> str:
    """Composes the three component rankings' FULL registered oracles as
    CTEs (DuckDB accepts a nested WITH inside a CTE body — the round-6
    composition pattern), then mirrors rrf_fuse's integer arithmetic."""
    ctes = ",\n    ".join(
        f"{alias} AS ({REGISTRY[name][1]})"
        for alias, name in (
            ("l_mp", "sim_topk_lsh_multiprobe"),
            ("l_ivf", "sim_topk_ivf"),
            ("l_sq8", "sim_topk_sq8"),
        )
    )
    return f"""
    WITH {ctes},
    allc AS (
      SELECT query_id, neighbor_id, 1000000 // (60 + rk) AS c FROM l_mp
      UNION ALL
      SELECT query_id, neighbor_id, 1000000 // (60 + rk) AS c FROM l_ivf
      UNION ALL
      SELECT query_id, neighbor_id, 1000000 // (60 + rk) AS c FROM l_sq8
    ),
    fused AS (
      SELECT query_id, neighbor_id,
             CAST(sum(c) AS BIGINT) AS rrf_score,
             CAST(count(*) AS BIGINT) AS n_lists
      FROM allc GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, rrf_score, n_lists, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, neighbor_id) AS rk
      FROM fused
    ) WHERE rk <= {ANN_K}
    """


@register("ann_rrf_fusion", _rrf_oracle())
def ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the three approximate ANN rankings
    (multi-probe LSH, IVF, SQ8) into one hybrid top-5 per probe —
    similarity.rrf_fuse with the conventional k=60 on the exact-integer
    grid.  The fusion stage touches only the component OUTPUTS
    (probe-sized frames), so its cost is corpus-independent; the claim
    under the driver's hash gate is that fusing three cheap approximate
    views is itself exactly reproducible.

    Round 16: the three rankings consume ONE pinned embeddings frame
    instead of each re-loading the table (the component queries'
    standalone entries keep their own loads) — the corpus parquet is
    scanned once, and every downstream pass (bucketing, centroid
    assignment, SQ8 encode, exact re-ranks) reads the pinned blocks.
    Identical inputs ⇒ identical component rankings ⇒ identical fusion
    (oracle-pinned)."""
    emb = pin(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    probes = emb.filter(F.col("vec_id") < 10)
    lists = [
        similarity.lsh_multiprobe_topk(emb, probes, k=ANN_K),
        similarity.ivf_topk(
            emb, probes, k=ANN_K, n_centroids=IVF_N_CENTROIDS, nprobe=IVF_NPROBE
        ),
        similarity.sq8_topk(emb, probes, k=ANN_K, rerank=SQ8_RERANK),
    ]
    return similarity.rrf_fuse(lists, k_const=60, topk=ANN_K)


#: the hybrid entry's single probe: its dense ranking comes from the
#: sim_topk_ivf probe set (vec_id < 10), its lexical ranking from the
#: fixed 3-term BM25 query — vec_id and doc_id share one id space in
#: the synthetic corpus, standing in for "every document has both text
#: and an embedding" (the RAG-stack reality)
HYBRID_PROBE = 3


def _hybrid_oracle() -> str:
    """Composes the lexical (bm25_serving) and dense (sim_topk_ivf)
    registered oracles as nested-WITH CTEs, then mirrors rrf_fuse's
    integer arithmetic — the ann_rrf_fusion pattern applied across
    retrieval modalities."""
    return f"""
    WITH lex AS ({REGISTRY["bm25_serving"][1]}),
    dense AS ({REGISTRY["sim_topk_ivf"][1]}),
    allc AS (
      SELECT doc_id, 1000000 // (60 + rk) AS c FROM lex
      UNION ALL
      SELECT neighbor_id AS doc_id, 1000000 // (60 + rk) AS c
      FROM dense WHERE query_id = {HYBRID_PROBE}
    ),
    fused AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS rrf_score,
             CAST(count(*) AS BIGINT) AS n_lists
      FROM allc GROUP BY 1
    )
    SELECT doc_id, rrf_score, n_lists, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rk
      FROM fused
    ) WHERE rk <= {ANN_K}
    """


@register("hybrid_retrieval_topk", _hybrid_oracle())
def hybrid_retrieval_topk(
    spark: SparkSession, sf_dir: str, max_df_frac: float | None = None
) -> DataFrame:
    """The RAG-stack serving shape: ONE fused ranking from a lexical
    BM25 index scan and a dense ANN index probe, combined by
    reciprocal-rank fusion (similarity.rrf_fuse, k=60, exact-integer
    grid).  The lexical list is `bm25_serving`'s persisted-index top-10
    (postings(q)-bounded); the dense list is `sim_topk_ivf`'s ranking
    for one probe (nprobe-bounded inverted lists).  Fusion touches only
    the two OUTPUT lists, so the hybrid's serving cost is the max of
    its components — both index-bounded, nothing corpus-sized — and
    the fused scores are BIGINT sums, order-independent and
    bit-identical across engines.  The oracle composes both components'
    FULL registered oracles, so the driver's hash gate certifies the
    end-to-end composition, not just the parts.

    ``max_df_frac`` (round 15) reaches the BM25 component's hot-term
    guard end-to-end: the lexical leg is served through
    `retrieval.bm25_serve` on the SAME per-process index root
    `bm25_serving` uses, so a production hybrid stack can bound its
    one corpus-sized input shape (a stopword query term) without
    forking the serving path.  Default None is plan- and
    value-identical to composing `bm25_serving` directly (the driver
    gate runs it that way)."""
    root = _BM25_INDEX_ZONES.get(sf_dir)
    if root is None:
        root = _bm25_build_index(
            spark, load_table(spark, sf_dir, "documents")
        )
        _BM25_INDEX_ZONES[sf_dir] = root
    lex = retrieval.bm25_serve(
        spark, [root], _BM25_TERMS, max_df_frac=max_df_frac
    ).select(
        F.lit(HYBRID_PROBE).cast("long").alias("query_id"),
        "doc_id",
        "rk",
    )
    dense = (
        REGISTRY["sim_topk_ivf"][0](spark, sf_dir)
        .filter(F.col("query_id") == HYBRID_PROBE)
        .select("query_id", F.col("neighbor_id").alias("doc_id"), "rk")
    )
    fused = similarity.rrf_fuse(
        [lex, dense], k_const=60, topk=ANN_K, id_col="doc_id"
    )
    return fused.select("doc_id", "rrf_score", "n_lists", "rk")


# --- distribution drift (operators/textstats.chi2_source_drift) ---------------

#: top-V token universe for the drift statistic
CHI2_V = 200


@register(
    "chi2_domain_shift",
    f"""
    WITH t AS (
      SELECT source,
             unnest(string_split(lower(trim(regexp_replace(
               coalesce(text, ''), '\\s+', ' ', 'g'))), ' ')) AS tok
      FROM documents
    ),
    tt AS (SELECT source AS grp, tok FROM t WHERE tok <> ''),
    oc AS (
      SELECT grp, tok, CAST(count(*) AS BIGINT) AS o FROM tt GROUP BY 1, 2
    ),
    gc AS (SELECT tok, CAST(sum(o) AS BIGINT) AS c FROM oc GROUP BY 1),
    topv AS (SELECT tok, c FROM gc ORDER BY c DESC, tok LIMIT {CHI2_V}),
    tv AS (SELECT tok, c, CAST(sum(c) OVER () AS BIGINT) AS N FROM topv),
    grps AS (SELECT DISTINCT source AS grp FROM documents),
    mat AS (
      SELECT g.grp, v.tok, v.c, v.N, COALESCE(o.o, 0) AS o
      FROM grps g CROSS JOIN tv v
      LEFT JOIN oc o ON o.grp = g.grp AND o.tok = v.tok
    ),
    ns AS (SELECT grp, CAST(sum(o) AS BIGINT) AS n_s FROM mat GROUP BY 1),
    withe AS (
      SELECT m.grp, n.n_s, m.o,
             CAST(n.n_s AS DOUBLE) * CAST(m.c AS DOUBLE)
               / CAST(m.N AS DOUBLE) AS e
      FROM mat m JOIN ns n USING (grp)
    ),
    terms AS (
      SELECT grp, n_s,
             CASE WHEN n_s = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor((CAST(o AS DOUBLE) - e)
                                  * (CAST(o AS DOUBLE) - e)
                                  / e * 1000000.0 + 0.5) AS BIGINT)
             END AS tq
      FROM withe
    )
    SELECT grp AS source, CAST(n_s AS BIGINT) AS n_tokens,
           CAST(sum(tq) AS BIGINT) AS chi2_micro
    FROM terms GROUP BY grp, n_s
    """,
)
def chi2_domain_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pearson χ² drift of token distribution vs the corpus
    (textstats.chi2_source_drift over the corpus-wide top-200 tokens) —
    the per-batch distribution-shift monitor.  Each χ² term is an IEEE
    double chain over exact BIGINT counts quantized to micros BEFORE the
    per-source sum, so the statistic is bit-identical across engines and
    partitionings."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.chi2_source_drift(docs, "source", "text", top_v=CHI2_V)


# --- SALSA endorsement ranking (operators/graph.salsa_int) ---------------------

#: SALSA iterations for the declared query (fixed to match the unrolled oracle)
SALSA_ITERS = 4


def _salsa_oracle(iters: int = SALSA_ITERS) -> str:
    """Unrolled-CTE mirror of graph.salsa_int on the DIRECTED
    customer→supplier graph: a{k}/h{k} are iteration k's two pushes,
    same BIGINT floor arithmetic (`//` == Spark `div` on non-negative
    operands)."""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
    a{k} AS (
      SELECT ed.dst AS node, CAST(sum(p.h // ed.outdeg) AS BIGINT) AS a
      FROM h{k - 1} p JOIN edges_d ed ON p.node = ed.src
      GROUP BY ed.dst
    )""")
        steps.append(f"""
    h{k} AS (
      SELECT ed.src AS node, CAST(sum(p.a // ed.indeg) AS BIGINT) AS h
      FROM a{k} p JOIN edges_d ed ON p.node = ed.dst
      GROUP BY ed.src
    )""")
    return f"""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT c AS src, s AS dst FROM pairs),
    odeg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
             FROM edges GROUP BY src),
    ideg AS (SELECT dst, CAST(count(*) AS BIGINT) AS indeg
             FROM edges GROUP BY dst),
    nh AS (SELECT count(*) AS n FROM odeg),
    edges_d AS (
      SELECT e.src, e.dst, o.outdeg, i.indeg
      FROM edges e JOIN odeg o USING (src) JOIN ideg i USING (dst)
    ),
    h0 AS (SELECT src AS node,
                  CAST(1000000000 // (SELECT n FROM nh) AS BIGINT) AS h
           FROM odeg),
    {",".join(steps)},
    ranked AS (
      SELECT 'authority' AS role, node AS node_key, a AS score_nano,
             row_number() OVER (ORDER BY a DESC, node) AS rk
      FROM a{iters}
      UNION ALL
      SELECT 'hub' AS role, node AS node_key, h AS score_nano,
             row_number() OVER (ORDER BY h DESC, node) AS rk
      FROM h{iters}
    )
    SELECT role, CAST(node_key AS BIGINT) AS node_key,
           CAST(score_nano AS BIGINT) AS score_nano, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 10
    """


@register("salsa_trade_rank", _salsa_oracle())
def salsa_trade_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hubs & authorities on the DIRECTED customer→supplier trade
    graph (graph.salsa_int, {SALSA_ITERS} double-push iterations): top-10
    authority suppliers and top-10 hub customers, scores on the exact
    BIGINT grid so the unrolled oracle matches decision-for-decision.
    No symmetrization — SALSA's per-step degree normalization handles
    the bipartite direction natively, unlike the PageRank entry."""
    from pyspark.sql import Window

    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            F.col("l_suppkey").cast("long").alias("dst"),
        )
        .distinct()
    )
    hubs, auths = graph.salsa_int(edges, iters=SALSA_ITERS)

    def top10(df: DataFrame, role: str, score: str) -> DataFrame:
        # TakeOrderedAndProject FIRST (distributed top-k over the node
        # set), then rank the 10-row frame — the r7 rule: never a
        # partition-less window over an unbounded input
        cut = (
            df.select(
                F.lit(role).alias("role"),
                F.col("node").alias("node_key"),
                F.col(score).alias("score_nano"),
            )
            .orderBy(F.desc("score_nano"), "node_key")
            .limit(10)
        )
        return cut.withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.desc("score_nano"), "node_key"))
            .cast("int"),
        )

    return top10(auths, "authority", "a").unionByName(
        top10(hubs, "hub", "h")
    )


# --- classifier rank-quality eval (operators/classifier.auc mechanics) --------

#: margin lower bound in q6 units: weights give margin ≥ −1.5·1 − 1·1
#: − 0.25 = −2.75 (stopword/mtl contributions are non-negative), so
#: adding 4e6 keeps the shifted score non-negative — Spark `div` and
#: DuckDB `//` then agree (trunc == floor on non-negative operands)
AUC_SHIFT = 4_000_000
#: value-range bucket width (q6 units) for the two-level cumsum
AUC_BUCKET = 1_000


@register(
    "classifier_auc_eval",
    f"""
    WITH q AS ({_QUALITY_SQL}),
    s AS (
      SELECT CAST(floor(((({QC_W_STOP} * stopword_ratio
                           + {QC_W_PUNCT} * punct_ratio)
                          + ({QC_W_LEN} * mean_token_len - upper_ratio))
                         + {QC_BIAS}) * 1000000.0 + 0.5) AS BIGINT) AS s_q6,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM q JOIN documents d ON d.doc_id = q.doc_id
    ),
    g AS (
      SELECT s_q6, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS np,
             (s_q6 + {AUC_SHIFT}) // {AUC_BUCKET} AS bkt
      FROM s GROUP BY s_q6
    ),
    lc AS (
      SELECT s_q6, n, np, bkt,
             CAST(coalesce(sum(n) OVER (PARTITION BY bkt ORDER BY s_q6
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS lcum
      FROM g
    ),
    offs AS (
      SELECT bkt,
             CAST(coalesce(sum(bn) OVER (ORDER BY bkt
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS off
      FROM (SELECT bkt, CAST(sum(n) AS BIGINT) AS bn FROM g GROUP BY bkt)
    ),
    c AS (
      SELECT lc.s_q6, lc.n, lc.np, o.off + lc.lcum AS cum_less
      FROM lc JOIN offs o USING (bkt)
    ),
    t AS (
      SELECT CAST(sum(np * (2 * cum_less + n + 1)) AS BIGINT) AS rs2,
             CAST(sum(np) AS BIGINT) AS n_pos,
             CAST(sum(n) AS BIGINT) AS n_all
      FROM c
    )
    SELECT n_pos, n_all - n_pos AS n_neg,
           CASE WHEN n_pos = 0 OR n_all = n_pos THEN CAST(0 AS BIGINT)
                ELSE CAST((1000000 * (rs2 - n_pos * (n_pos + 1)))
                          // (2 * n_pos * (n_all - n_pos)) AS BIGINT)
           END AS auc_micro
    FROM t
    """,
)
def classifier_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide ROC AUC of the literal-weight quality classifier
    against the language label, fully INTEGER-exact (round 10): the
    margin is the ``quality_classifier_filter`` double chain (monotone
    in the sigmoid, so AUC is identical to the probability's) quantized
    to the 1e-6 grid, then the Mann-Whitney mid-rank statistic runs in
    half-units — ``rs2 = Σ np·(2·cum_less + n + 1)`` is a BIGINT, and
    ``auc_micro = 1e6·(rs2 − n_pos(n_pos+1)) div (2·n_pos·n_neg)``
    never touches a float, so it is bit-identical across engines and
    partitionings (the trend_sector_monthly rule, applied to a rank
    statistic).

    This puts the ``classifier.auc`` mechanics under the driver's hash
    gate; the k-fold CLI (``classifier-eval``) reports the same
    statistic per held-out fold on trained models.

    Scale shape: one scan → margin expression → hash agg to the
    distinct-quantized-score frame (map-side combinable), then the
    cumulative count runs as a VALUE-RANGE two-level cumsum (the
    ``bucketed_cumsum`` idiom, value-ordered): a per-bucket partitioned
    window does the corpus-proportional work in parallel, and the only
    partition-less window runs on the bucket-TOTALS frame, whose size
    is bounded by the margin's RANGE over ``AUC_BUCKET`` (≈10⁴ rows at
    any corpus size), not by the corpus.  The shift constant keeps the
    bucket key non-negative so Spark ``div`` ≡ DuckDB ``//``.  BIGINT
    headroom: ``1e6·rs2 ≲ 2e6·n_pos·n_neg`` needs ``n_pos·n_neg <
    4.6e12`` — fine to ~4M docs; past that, evaluate on a sample or
    drop the grid to 1e4 (documented, not silent).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    q = textstats.quality_stats(docs)
    margin = (
        (
            F.lit(QC_W_STOP) * F.col("stopword_ratio")
            + F.lit(QC_W_PUNCT) * F.col("punct_ratio")
        )
        + (
            F.lit(QC_W_LEN) * F.col("mean_token_len")
            - F.col("upper_ratio")
        )
    ) + F.lit(QC_BIAS)
    s = q.select(
        F.floor(margin * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("s_q6"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    g = s.groupBy("s_q6").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("np"),
    ).withColumn("bkt", F.expr(f"(s_q6 + {AUC_SHIFT}) div {AUC_BUCKET}"))
    # g feeds the in-bucket window AND the bucket-totals aggregate;
    # their exchange children differ (window partitioning vs partial
    # agg), so the corpus scan + quality_stats margin chain ran twice —
    # pin the distinct-score frame (bounded by the corpus's distinct
    # quantized margins) to one execution (optimization r15)
    g = pin(g)
    in_bucket = Window.partitionBy("bkt").orderBy("s_q6").rowsBetween(
        Window.unboundedPreceding, -1
    )
    lc = g.withColumn(
        "lcum", F.coalesce(F.sum("n").over(in_bucket), F.lit(0)).cast("long")
    )
    # bucket totals: bounded by margin-range/AUC_BUCKET, so ITS
    # partition-less window is model-artifact-sized at any corpus size
    across = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        g.groupBy("bkt")
        .agg(F.sum("n").cast("long").alias("bn"))
        .withColumn(
            "off", F.coalesce(F.sum("bn").over(across), F.lit(0)).cast("long")
        )
        .select("bkt", "off")
    )
    c = lc.join(F.broadcast(offs), "bkt").withColumn(
        "cum_less", F.col("off") + F.col("lcum")
    )
    t = c.agg(
        F.sum(
            F.col("np") * (F.lit(2) * F.col("cum_less") + F.col("n") + 1)
        )
        .cast("long")
        .alias("rs2"),
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_all"),
    )
    return t.select(
        "n_pos",
        (F.col("n_all") - F.col("n_pos")).alias("n_neg"),
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_all") == F.col("n_pos")),
            F.lit(0).cast("long"),
        )
        .otherwise(
            F.expr(
                "(1000000 * (rs2 - n_pos * (n_pos + 1)))"
                " div (2 * n_pos * (n_all - n_pos))"
            ).cast("long")
        )
        .alias("auc_micro"),
    )


# --- incremental materialized aggregates (operators/aggzone.py) --------------

#: KMV sketch size for the declared lane — small enough that sf0.01's
#: per-(priority, year) customer sets (~400 distinct) EXERCISE the
#: estimation branch while sf0.001's (~40) pin the exact-below-k branch
AGGZONE_K = 64

#: shared oracle: the full recompute over orders, with the KMV distinct
#: estimate mirrored hash-for-hash (same md5-prefix uint32, same
#: rank-64 selection, same (k-1)·2^32 // h_k integer floor division) —
#: so merge-served == recompute sits under the driver's hash gate
_AGGZONE_SQL = """
WITH base AS (
  SELECT o_orderpriority AS prio,
         year(o_orderdate)::INT AS anio,
         CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT) AS price,
         CAST(('0x' || substr(md5('k|' || CAST(o_custkey AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM orders
),
hashes AS (SELECT DISTINCT prio, anio, h FROM base WHERE h IS NOT NULL),
ranked AS (
  SELECT prio, anio, h,
         row_number() OVER (PARTITION BY prio, anio ORDER BY h) AS rn,
         count(*)    OVER (PARTITION BY prio, anio) AS nd
  FROM hashes
),
kmv AS (
  SELECT prio, anio,
         CAST(CASE WHEN max(nd) < 64 THEN max(nd)
              ELSE (63 * 4294967296)
                   // greatest(max(CASE WHEN rn = 64 THEN h END), 1)
         END AS BIGINT) AS distinct_cust_est
  FROM ranked WHERE rn <= 64 GROUP BY prio, anio
),
agg AS (
  SELECT prio, anio, count(*) AS cnt,
         CAST(sum(price) AS BIGINT) AS sum_price,
         min(price) AS min_price, max(price) AS max_price
  FROM base GROUP BY prio, anio
)
SELECT agg.prio, agg.anio, agg.cnt, agg.sum_price, agg.min_price,
       agg.max_price, kmv.distinct_cust_est
FROM agg JOIN kmv USING (prio, anio)
"""


def _aggzone_input(
    spark: SparkSession, sf_dir: str, predicate: Column | None = None
) -> DataFrame:
    """orders (optionally pre-filtered — the zone-split predicate runs
    BEFORE the projection drops o_orderkey) projected to the zone
    spec's shape: exact-integer price (the engine-wide ×10000 micros
    grid — floating sums are refused by the operator) and the raw
    customer key for the KMV sketch."""
    orders = load_table(spark, sf_dir, "orders")
    if predicate is not None:
        orders = orders.where(predicate)
    return orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.year("o_orderdate").alias("anio"),
        F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("price"),
        F.col("o_custkey").alias("cust"),
    )


_AGGZONE_SPEC = dict(
    keys=["prio", "anio"],
    sums=["price"],
    mins=["price"],
    maxs=["price"],
    kmvs=["cust"],
    k=AGGZONE_K,
)

#: per-process (base, delta) zone roots, keyed by sf_dir (the
#: _BM25_APPEND_ZONES discipline: regenerated testdata never serves
#: from a stale zone)
_AGGZONE_ROOTS: dict[str, tuple[str, str]] = {}


def _aggzone_roots(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once-per-process: a base zone over 90% of orders and a
    delta zone over the other 10% (o_orderkey % 10 == 7 — the
    bm25_append_serving split), the state an incremental load leaves
    behind: yesterday's compacted zone plus today's ingest batch."""
    roots = _AGGZONE_ROOTS.get(sf_dir)
    if roots is None:
        from ..operators import aggzone

        is_delta = F.col("o_orderkey") % 10 == F.lit(7)
        roots = (
            aggzone.build_agg_zone(
                spark,
                _aggzone_input(spark, sf_dir, ~is_delta),
                **_AGGZONE_SPEC,
            ),
            aggzone.build_agg_zone(
                spark,
                _aggzone_input(spark, sf_dir, is_delta),
                **_AGGZONE_SPEC,
            ),
        )
        _AGGZONE_ROOTS[sf_dir] = roots
    return roots


@register("incr_agg_serving", _AGGZONE_SQL)
def incr_agg_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance without recompute: cnt / exact
    DECIMAL sum / min / max / KMV-distinct partials for (priority,
    order-year) live in per-ingest zones (`operators.aggzone` — a base
    zone over 90% of orders plus a 10% delta zone), and serving merges
    the zones' PARTIALS: |groups|·|zones| rows re-aggregated, the base
    table never re-read.  Every partial is associative (sums add in
    DECIMAL(38,0), min/max fold, the k-minimum-hash arrays union and
    re-take k minima — hash-level deterministic via the portable
    md5-prefix hash), so merge-served == full recompute EXACTLY; the
    oracle is that recompute with the KMV math mirrored
    expression-for-expression, putting the contract under the driver's
    hash gate.  At 100 TB this is the only affordable rollup shape: a
    daily ingest writes one megabyte-scale zone, and a dashboard query
    reads zones, not the corpus.  The estimator's two branches are
    both driver-exercised: sf0.001 groups sit below k=64 (exact
    branch), sf0.01 groups above it (floor-division branch)."""
    from ..operators import aggzone

    base, delta = _aggzone_roots(spark, sf_dir)
    served = aggzone.serve_agg(spark, [base, delta])
    # carry stays DECIMAL(38,0) inside the zones (overflow-safe partials);
    # the PRESENTED sum is BIGINT — the ewma_priority_monthly discipline
    # that hashes identically in both engines under a dtype-aware hasher
    return served.withColumn("sum_price", F.col("sum_price").cast("long"))


#: per-process compacted root, keyed by sf_dir
_AGGZONE_COMPACT: dict[str, str] = {}


@register("incr_agg_compacted", _AGGZONE_SQL)
def incr_agg_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lane's maintenance job: `compact_agg_zones` folds the base
    and delta zones into ONE root (a partial-level merge — the KMV
    union keeps the k smallest distinct hashes, so nothing is lost in
    the fold) and serving the compacted root must equal both the
    two-zone serve AND the full recompute.  Shares the recompute
    oracle with `incr_agg_serving`, so compaction-preserves-results
    sits under the driver's hash gate the same way
    `bm25_compacted_serving` pins the text-index fold.  At scale this
    bounds the serve-time fan-in: ingest appends deltas, compaction
    periodically folds them, queries read O(1) roots."""
    from ..operators import aggzone

    root = _AGGZONE_COMPACT.get(sf_dir)
    if root is None:
        base, delta = _aggzone_roots(spark, sf_dir)
        root = aggzone.compact_agg_zones(spark, [base, delta])
        _AGGZONE_COMPACT[sf_dir] = root
    served = aggzone.serve_agg(spark, [root])
    # BIGINT presentation — see incr_agg_serving
    return served.withColumn("sum_price", F.col("sum_price").cast("long"))


# --- file-stats manifest pruning (sources/manifest.py) -----------------------

#: the pruned window: 18 months of a 7-year clustered fact — narrow
#: enough that the manifest skips most files, wide enough to span file
#: boundaries at every SF
_MANIFEST_LO, _MANIFEST_HI = 199606, 199711


def _overflow_safe_sum(col: str) -> Column:
    """SUM of a BIGINT column carried in DECIMAL(38,0), so it neither
    raises (ANSI) nor wraps on overflow; only the presented total is
    BIGINT — the ``incr_agg_serving`` discipline."""
    return F.sum(F.col(col).cast("decimal(38,0)")).cast("long")


#: per-process clustered-copy root (with its manifest), keyed by sf_dir
_MANIFEST_TABLES: dict[str, str] = {}


def _manifest_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-per-process: orders projected to (ym, price micros,
    o_orderkey), range-clustered into 8 files on ym (each file covers
    a narrow month window — a range-clustered layout), with a
    file-stats manifest collected over ym.  The state a maintained
    warehouse table sits in: clustered data + catalog stats."""
    root = _MANIFEST_TABLES.get(sf_dir)
    if root is None:
        import tempfile

        from ..sources import manifest as mf

        orders = load_table(spark, sf_dir, "orders")
        copy = orders.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
                "ym"
            ),
            F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("price"),
            "o_orderkey",
        )
        root = tempfile.mkdtemp(prefix="manifest_scan_") + "/orders_ym"
        (
            copy.repartitionByRange(8, "ym")
            .sortWithinPartitions("ym")
            .write.parquet(root)
        )
        mf.build_stats_manifest(spark, root, ["ym"])
        _MANIFEST_TABLES[sf_dir] = root
    return root


@register(
    "manifest_pruned_scan",
    f"""
    SELECT (year(o_orderdate) * 100 + month(o_orderdate))::INT AS ym,
           count(*) AS cnt,
           CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price
    FROM orders
    WHERE (year(o_orderdate) * 100 + month(o_orderdate))
          BETWEEN {_MANIFEST_LO} AND {_MANIFEST_HI}
    GROUP BY 1
    """,
)
def manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping through a file-stats manifest: orders live
    range-clustered on year-month (8 files, built once per process),
    a per-file min/max manifest sits beside them
    (`sources.manifest.build_stats_manifest` — footer-only, collected
    once), and an 18-month range query plans its scan FROM the
    manifest: files whose [min_ym, max_ym] cannot intersect the range
    are never scheduled (3 of 8 files survive at every SF — the
    pruning ratio is a layout property, not a data-size property),
    then the exact predicate filters rows within the kept files.
    Result-identical to the full scan + filter — which is exactly what
    the oracle computes over the raw table, so skip-correctness sits
    under the driver's hash gate.  At 100 TB this is THE scan lever:
    partition pruning without partition directories — a month query
    over a year-clustered petabyte fact schedules 1/12th of the tasks
    and opens 1/12th of the footers, composing with range-clustered
    layouts and shrinking further as files narrow.
    A stale manifest (data file it doesn't know) refuses loudly rather
    than silently dropping rows (test-pinned)."""
    from ..sources import manifest as mf

    root = _manifest_table(spark, sf_dir)
    pruned = mf.pruned_scan(
        spark, root, "ym", _MANIFEST_LO, _MANIFEST_HI
    )
    return pruned.groupBy("ym").agg(
        F.count(F.lit(1)).alias("cnt"),
        _overflow_safe_sum("price").alias("sum_price"),
    )


# --- exact EWMA smoothing ----------------------------------------------------

#: EWMA window (rows) and the power-of-two weight of the newest row —
#: half-life of one month: weight(lag j) = 2^(EWMA_W-1-j)
EWMA_W = 8


@register(
    "ewma_priority_monthly",
    f"""
    WITH monthly AS (
      SELECT o_orderpriority AS prio,
             (year(o_orderdate) * 100 + month(o_orderdate))::INT AS ym,
             CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
                  AS BIGINT) AS msum
      FROM orders GROUP BY 1, 2
    ),
    lagged AS (
      SELECT prio, ym, msum,
             {", ".join(
                 f"lag(msum, {j}) OVER "
                 f"(PARTITION BY prio ORDER BY ym) AS x{j}"
                 for j in range(1, 8)
             )}
      FROM monthly
    )
    SELECT prio, ym, msum,
           (1000 * (msum * 128
                    + {" + ".join(
                        f"COALESCE(x{j}, 0) * {1 << (7 - j)}"
                        for j in range(1, 8)
                    )}))
           // (128 + {" + ".join(
                  f"CASE WHEN x{j} IS NULL THEN 0 ELSE {1 << (7 - j)} END"
                  for j in range(1, 8)
              )}) AS ewma_q3
    FROM lagged
    """,
)
def ewma_priority_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of monthly order value per
    priority, EXACT across engines: the classic EWMA is a float
    recurrence (y_t = αx_t + (1-α)y_{t-1}) whose accumulation order
    makes it partition-dependent — this is the finite-window integer
    form with α = 1/2 folded into POWER-OF-TWO weights (newest month
    weighs 128, 7th-back weighs 1), so numerator and denominator are
    exact BIGINTs, partial leading windows renormalize by the
    available-weight sum (no warm-up bias), and the smoothed value is
    ONE integer floor division onto a 1e-3 grid — Spark ``div`` ==
    DuckDB ``//`` on the non-negative operands.  BIGINT headroom:
    1000·255·msum needs the max monthly micro-sum < 3.6e13 (≈ $36M/
    month/group — 50× past these SFs); beyond that drop the grid to
    1e2 or pre-scale msum to millis (documented, not silent — the
    classifier_auc_eval precedent).  Shape at 100 TB: ONE hash agg to
    monthly grain (corpus-proportional, map-side combinable), then the
    lag window runs per-series on the MONTHLY frame — series-count ×
    months rows, corpus size gone; a gappy series composes with
    month_spine_gapfill first (lags are row-based, docstring
    contract)."""
    from pyspark.sql import Window

    monthly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
                "ym"
            ),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("msum")
        )
    )
    w = Window.partitionBy("prio").orderBy("ym")
    lags = [F.col("msum")] + [
        F.lag("msum", j).over(w) for j in range(1, EWMA_W)
    ]
    num = sum(
        (
            F.coalesce(x, F.lit(0)) * F.lit(1 << (EWMA_W - 1 - j))
            for j, x in enumerate(lags)
        ),
        start=F.lit(0),
    )
    den = sum(
        (
            F.when(x.isNotNull(), F.lit(1 << (EWMA_W - 1 - j))).otherwise(
                0
            )
            for j, x in enumerate(lags)
        ),
        start=F.lit(0),
    )
    return monthly.select(
        "prio",
        "ym",
        "msum",
        (F.lit(1000) * num.cast("long"))
        .cast("long")
        .alias("__num"),
        den.cast("long").alias("__den"),
    ).select(
        "prio",
        "ym",
        "msum",
        F.expr("__num div __den").alias("ewma_q3"),
    )


# --- triangle counting on the brand co-occurrence graph ----------------------

#: minimum co-order support for a brand-graph edge (the
#: basket_brand_pairs threshold, shared semantics)
TRI_MIN_SUPPORT = 5


@register(
    "triangle_brand_graph",
    f"""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    edges AS (
      SELECT a.brand AS a, b.brand AS b
      FROM items a JOIN items b
        ON a.basket = b.basket AND a.brand < b.brand
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUPPORT}
    ),
    tris AS (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT brand, CAST(count(*) AS BIGINT) AS n_tri
    FROM (
      SELECT a AS brand FROM tris
      UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris
    )
    GROUP BY brand
    """,
)
def triangle_brand_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand triangle participation in the co-order graph (brands
    are adjacent when ≥5 orders contain both): the clustering-cohesion
    primitive PageRank/SALSA don't capture — a brand in many triangles
    sits in a dense co-purchase community, not just a popular one.

    The count uses the ORDERED-edge join (each undirected edge stored
    once as a < b; a triangle a<b<c is found exactly once as
    e1=(a,b) ⋈ e2=(b,c) ⋈ e3=(a,c)) — the standard distributed
    algorithm: no triangle is double-counted, and the join fan-out is
    Σ_v d_out(v)² where d_out is the ORDER-respecting out-degree —
    at web scale the ordering is by degree (degeneracy), which bounds
    d_out by the arboricity; on the bounded brand alphabet the whole
    edge set broadcasts and the plan is exchange-free after the edge
    derivation.  The corpus-proportional work is deriving the edges
    (the basket_brand_pairs self-join: one shuffle on the basket key,
    per-basket fan-out bounded by basket size²); the triangle joins
    run on the |brands|²-bounded edge list.  Wedge (e1 ⋈ e2) and
    closure (⋈ e3) are exact set logic — the oracle mirrors the same
    three-way join, so the count sits under the driver's hash gate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .select(
            F.col("l_orderkey").alias("basket"),
            F.col("p_brand").alias("brand"),
        )
        .distinct()
    )
    a = items.select("basket", F.col("brand").alias("a"))
    b = items.select("basket", F.col("brand").alias("b"))
    edges = (
        a.join(b, "basket")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= TRI_MIN_SUPPORT)
        .select("a", "b")
    )
    # the edge list feeds THREE join references (e1/e2/e3) with
    # different column pruning — Catalyst will NOT ReuseExchange such
    # consumers (r6 rule), so without a barrier the corpus-sized
    # basket self-join re-expands per reference (46 static shuffles
    # measured).  Lazy localCheckpoint pins the edge derivation to ONE
    # execution (plan build stays job-free — the corpus_clean_final /
    # mmr pattern); explicit broadcast hints below compensate for the
    # checkpointed frame's missing size stats.
    edges = pin(edges)
    e1 = edges
    e2 = F.broadcast(edges.select(F.col("a").alias("b"), F.col("b").alias("c")))
    e3 = F.broadcast(edges.select(F.col("a").alias("a"), F.col("b").alias("c")))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    verts = (
        tris.select(F.col("a").alias("brand"))
        .unionAll(tris.select(F.col("b").alias("brand")))
        .unionAll(tris.select(F.col("c").alias("brand")))
    )
    return verts.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_tri")
    )


#: the point-lookup probe key (present at every SF)
_BLOOM_PROBE_CUST = 42

#: per-process hash-clustered copy + bloom'd manifest, keyed by sf_dir
_BLOOM_TABLES: dict[str, str] = {}


def _bloom_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-per-process: orders hash-clustered into 8 files on
    o_custkey with a stats manifest carrying BOTH range stats and a
    per-file bloom over the key — the layout where range pruning is
    useless (every file spans the key range) and only the bloom can
    skip."""
    root = _BLOOM_TABLES.get(sf_dir)
    if root is None:
        import tempfile

        from ..sources import manifest as mf

        orders = load_table(spark, sf_dir, "orders")
        copy = orders.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("price"),
        )
        root = tempfile.mkdtemp(prefix="bloom_lookup_") + "/orders_ck"
        copy.repartition(8, "o_custkey").write.parquet(root)
        mf.build_stats_manifest(
            spark, root, ["o_custkey"], blooms=["o_custkey"]
        )
        _BLOOM_TABLES[sf_dir] = root
    return root


@register(
    "bloom_point_lookup",
    f"""
    SELECT o_custkey AS cust,
           count(*) AS cnt,
           CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price
    FROM orders
    WHERE o_custkey = {_BLOOM_PROBE_CUST}
    GROUP BY 1
    """,
)
def bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-free point lookup through per-file bloom filters: orders
    live HASH-clustered on the customer key (8 files — the layout
    co-locating each customer's rows in ONE file), and the manifest
    carries a 8192-bit / 4-hash bloom per file, so the lookup's plan
    consults the manifest and schedules only the files whose blooms
    admit the key — 1 of 8 here, ~FPR·|files| in general; range stats
    CANNOT help on this layout because every file spans the whole key
    range (the exact gap `manifest_pruned_scan`'s min/max path leaves
    open).  False positives cost one wasted file scan (the exact
    equality predicate still filters); false negatives cannot happen —
    build and probe share one hash (`manifest.bloom_positions`, the
    md5-prefix discipline).  The oracle recomputes the lookup over the
    raw table, putting skip-correctness under the driver's hash gate.
    At 100 TB this is the needle query served without an index: a
    customer's history costs one file + a metadata probe, not a
    table scan."""
    from ..sources import manifest as mf

    root = _bloom_table(spark, sf_dir)
    rows = mf.point_lookup(
        spark, root, "o_custkey", _BLOOM_PROBE_CUST
    )
    return rows.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.count(F.lit(1)).alias("cnt"),
        _overflow_safe_sum("price").alias("sum_price"),
    )


@register(
    "kmv_est_quality",
    """
    WITH base AS (
      SELECT o_orderpriority AS prio,
             year(o_orderdate)::INT AS anio,
             o_custkey,
             CAST(('0x' || substr(md5('k|' || CAST(o_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM orders
    ),
    hashes AS (SELECT DISTINCT prio, anio, h FROM base WHERE h IS NOT NULL),
    ranked AS (
      SELECT prio, anio, h,
             row_number() OVER (PARTITION BY prio, anio ORDER BY h) AS rn,
             count(*)    OVER (PARTITION BY prio, anio) AS nd
      FROM hashes
    ),
    kmv AS (
      SELECT prio, anio,
             CAST(CASE WHEN max(nd) < 64 THEN max(nd)
                  ELSE (63 * 4294967296)
                       // greatest(max(CASE WHEN rn = 64 THEN h END), 1)
             END AS BIGINT) AS nd_est
      FROM ranked WHERE rn <= 64 GROUP BY prio, anio
    ),
    exact AS (
      SELECT prio, anio,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_exact
      FROM base GROUP BY prio, anio
    )
    SELECT e.prio, e.anio, e.nd_exact, k.nd_est,
           (greatest(k.nd_est - e.nd_exact, e.nd_exact - k.nd_est)
            * 1000000) // greatest(e.nd_exact, 1) AS err_ppm
    FROM exact e JOIN kmv k USING (prio, anio)
    """,
)
def kmv_est_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality gate for the KMV distinct estimator — the
    `minhash_est_quality` / `ann_recall_eval` discipline applied to
    the rollup lane: per (priority, year) group, the estimate SERVED
    from the lane's persisted zones (base + delta, the exact frames
    `incr_agg_serving` reads) against the exact COUNT DISTINCT, with
    the relative error on an exact ppm grid (integer floor division of
    exact BIGINTs).  Because the sketch is hash-deterministic, the
    error itself is deterministic and sits under the driver's hash
    gate — a regression in the hash, the merge, or the estimator
    arithmetic moves err_ppm and fails the hash match.  Analytic
    context: rsd ≈ 1/sqrt(k−2) ≈ 12.7% at k=64, so sf0.01's ~400-
    distinct groups should land within a few hundred thousand ppm and
    sf0.001's below-k groups at EXACTLY 0 (the exact branch).  At
    100 TB the audit costs |groups| sketch rows + one exact distinct
    (the one corpus-sized job — run it where ground truth is
    affordable, e.g. on a sampled partition, to certify the sketch
    serving everywhere else)."""
    from ..operators import aggzone

    base, delta = _aggzone_roots(spark, sf_dir)
    served = aggzone.serve_agg(spark, [base, delta]).select(
        "prio", "anio", F.col("distinct_cust_est").alias("nd_est")
    )
    exact = (
        _aggzone_input(spark, sf_dir)
        .groupBy("prio", "anio")
        .agg(F.countDistinct("cust").cast("long").alias("nd_exact"))
    )
    return (
        exact.join(served, ["prio", "anio"])
        .withColumn(
            "err_ppm",
            F.expr(
                "(greatest(nd_est - nd_exact, nd_exact - nd_est) "
                "* CAST(1000000 AS BIGINT)) div greatest(nd_exact, "
                "CAST(1 AS BIGINT))"
            ),
        )
        .select("prio", "anio", "nd_exact", "nd_est", "err_ppm")
    )


@register(
    "kmv_jaccard_priorities",
    """
    WITH base AS (
      SELECT DISTINCT o_orderpriority AS prio, o_custkey AS cust
      FROM orders
    ),
    hashes AS (
      SELECT DISTINCT prio,
             CAST(('0x' || substr(md5('k|' || CAST(cust AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM base
    ),
    ranked AS (
      SELECT prio, h,
             row_number() OVER (PARTITION BY prio ORDER BY h) AS rn
      FROM hashes
    ),
    sk AS (
      SELECT prio, list(h ORDER BY h) AS kmv
      FROM ranked WHERE rn <= 64 GROUP BY prio
    ),
    est AS (
      SELECT a.prio AS pa, b.prio AS pb,
             list_sort(list_distinct(a.kmv || b.kmv))[1:64] AS u,
             a.kmv AS ka, b.kmv AS kb
      FROM sk a JOIN sk b ON a.prio < b.prio
    ),
    est2 AS (
      SELECT pa, pb,
             CAST(len(list_intersect(list_intersect(u, ka), kb)) AS BIGINT)
               AS rho,
             CAST(len(u) AS BIGINT) AS us
      FROM est
    ),
    exact AS (
      SELECT a.prio AS pa, b.prio AS pb,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM base a JOIN base b
        ON a.cust = b.cust AND a.prio < b.prio
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT prio, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY prio
    )
    SELECT x.pa, x.pb,
           (x.n_inter * 1000000)
             // (sa.n + sb.n - x.n_inter) AS j_exact_ppm,
           (e.rho * 1000000) // greatest(e.us, 1) AS j_est_ppm
    FROM exact x
    JOIN est2 e ON e.pa = x.pa AND e.pb = x.pb
    JOIN sizes sa ON sa.prio = x.pa
    JOIN sizes sb ON sb.prio = x.pb
    """,
)
def kmv_jaccard_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-overlap estimation FROM SKETCHES — the theta-sketch-style
    capability the KMV arrays unlock beyond distinct counts: for each
    priority pair, the Jaccard similarity of their distinct-customer
    sets estimated from the two k=64 sketches alone (ρ/k where ρ =
    members of the union's k-minima present in BOTH sketches — an
    unbiased Jaccard estimator, Beyer et al. 2007), beside the exact
    Jaccard from the full sets, both on an exact ppm grid (integer
    floor division).  The audience-overlap question at 100 TB: exact
    pairwise overlap of N sources costs N² corpus-sized joins, while
    the sketch answer costs |pairs| × k array rows — megabytes — from
    sketches the rollup zones ALREADY persist; the exact twin rides
    along here (driver-SF-affordable) so the estimator's bias sits
    under the hash gate the way minhash_est_quality gates the MinHash
    lane.  Everything is deterministic: one portable hash, k-minima
    selection, and integer division — Spark's array_intersect /
    array_distinct mirror DuckDB's list functions exactly (unordered
    set semantics, sizes only)."""
    from ..operators.aggzone import KMV_K, _kmv_partial

    base = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_custkey").alias("cust"),
        )
        .distinct()
    )
    # four consumers (sketch build, both sides of the exact
    # pairwise join, group sizes) with different pruning — the
    # shared-subtree rule: without a barrier the orders distinct
    # re-expands per consumer (11 static shuffles measured);
    # lazy, so declared-plan build stays job-free
    base = pin(base)
    sk = _kmv_partial(base, ["prio"], "cust", KMV_K).withColumnRenamed(
        "kmv_cust", "kmv"
    )
    a = sk.select(F.col("prio").alias("pa"), F.col("kmv").alias("ka"))
    b = sk.select(F.col("prio").alias("pb"), F.col("kmv").alias("kb"))
    est = (
        a.join(F.broadcast(b), F.col("pa") < F.col("pb"))
        .withColumn(
            "u",
            F.slice(
                F.sort_array(
                    F.array_distinct(F.concat("ka", "kb"))
                ),
                1,
                KMV_K,
            ),
        )
        .select(
            "pa",
            "pb",
            F.size(
                F.array_intersect(F.array_intersect("u", "ka"), "kb")
            )
            .cast("long")
            .alias("rho"),
            F.size("u").cast("long").alias("us"),
        )
    )
    inter = (
        base.select(F.col("prio").alias("pa"), "cust")
        .join(base.select(F.col("prio").alias("pb"), "cust"), "cust")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    sizes = base.groupBy("prio").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(F.col("prio").alias("pa"), F.col("n").alias("na"))
            ),
            "pa",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("prio").alias("pb"), F.col("n").alias("nb"))
            ),
            "pb",
        )
        .join(F.broadcast(est), ["pa", "pb"])
        .select(
            "pa",
            "pb",
            F.expr(
                "(n_inter * CAST(1000000 AS BIGINT)) "
                "div (na + nb - n_inter)"
            ).alias("j_exact_ppm"),
            F.expr(
                "(rho * CAST(1000000 AS BIGINT)) div greatest(us, "
                "CAST(1 AS BIGINT))"
            ).alias("j_est_ppm"),
        )
    )


# --- trigram substring search (operators/trigram.py) -------------------------

#: the substring probe: crosses a token boundary ("…window scan…" /
#: "…window sc…"), so no token/phrase index can answer it — moderate
#: selectivity at every SF (32/500 … 272/5000 docs)
_TRIGRAM_NEEDLE = "window sc"

#: per-process trigram-index root, keyed by sf_dir
_TRIGRAM_ZONES: dict[str, str] = {}


@register(
    "substring_search_serving",
    f"""
    SELECT doc_id
    FROM documents
    WHERE position('{_TRIGRAM_NEEDLE}' IN lower(coalesce(text, ''))) > 0
    """,
)
def substring_search_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring containment (`LIKE '%window sc%'`) served from a
    trigram index — the search shape the BM25/phrase lanes CANNOT
    answer (tokenization erases cross-token character structure; the
    needle here spans a token boundary on purpose).  The pg_trgm idea
    on the engine's zone discipline (`operators.trigram`): every
    distinct 3-char window of the lowercased text is indexed into
    crc32-bucketed postings (built once per process); a query reads
    ONLY its trigrams' bucket directories (partition pruning is the
    index seek), takes docs containing ALL needle trigrams (an exact
    SUPERSET by construction), and verifies containment over the
    candidates alone — a keyed semi-join lookup, never a corpus text
    scan.  The oracle is the exact corpus-scan filter, so
    candidates-∩-verify == exact sits under the driver's hash gate.
    At 100 TB: index build is the one corpus-sized job; per-query cost
    is |postings(needle trigrams)| + |candidates| text fetches —
    the same economics as the BM25 lane, for a query class SQL
    engines otherwise answer with a full scan.  Sub-3-char needles
    are REFUSED loudly (no trigram exists to prune with)."""
    from ..operators import trigram

    root = _TRIGRAM_ZONES.get(sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    if root is None:
        root = trigram.build_trigram_index(spark, docs)
        _TRIGRAM_ZONES[sf_dir] = root
    return trigram.trigram_serve(spark, [root], _TRIGRAM_NEEDLE, docs)


#: per-process tombstoned trigram root, keyed by sf_dir
_TRIGRAM_DELETE_ZONES: dict[str, str] = {}

#: the substring oracle over the REMAINING docs — delete ==
#: rebuild-on-remaining (the bm25_delete_serving contract applied to
#: the substring lane; same 10% split)
_SUBSTRING_DELETED_SQL = f"""
    SELECT doc_id
    FROM documents
    WHERE position('{_TRIGRAM_NEEDLE}' IN lower(coalesce(text, ''))) > 0
      AND doc_id % 10 <> 3
"""


def _trigram_delete_root(spark: SparkSession, sf_dir: str) -> str:
    root = _TRIGRAM_DELETE_ZONES.get(sf_dir)
    if root is None:
        from ..operators import trigram

        docs = load_table(spark, sf_dir, "documents")
        root = trigram.build_trigram_index(spark, docs)
        trigram.delete_from_trigram_index(
            spark,
            [root],
            docs.select("doc_id").where(F.col("doc_id") % 10 == 3),
        )
        _TRIGRAM_DELETE_ZONES[sf_dir] = root
    return root


@register("substring_delete_serving", _SUBSTRING_DELETED_SQL)
def substring_delete_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search under deletion — the tombstone lifecycle the
    BM25 and ANN lanes have, applied to the trigram index: 10% of the
    docs (doc_id % 10 == 3) are tombstoned on a fully-built index (a
    delete-batch-sized zone append, never a postings rewrite), and
    serving anti-joins the tombstones out of the ALREADY-PRUNED
    candidate set (a broadcast anti-join — serving stays
    |postings(needle)|-bounded with deletes pending).  The oracle is
    the exact scan over the REMAINING docs, so delete ==
    rebuild-on-remaining sits under the driver's hash gate; compaction
    folds tombstones out physically (pytest-pinned), bounding the
    adjustment set at one compaction interval."""
    from ..operators import trigram

    root = _trigram_delete_root(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return trigram.trigram_serve(spark, [root], _TRIGRAM_NEEDLE, docs)


#: per-process compacted trigram root, keyed by sf_dir
_TRIGRAM_COMPACT_ZONES: dict[str, str] = {}


@register("substring_compacted_serving", _SUBSTRING_DELETED_SQL)
def substring_compacted_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The lane's maintenance fold: `compact_trigram_index` over the
    tombstoned root anti-joins the deleted docs' postings out
    physically and the compacted root carries NO tombstones zone — its
    serving plan is byte-identical to pre-deletion serving.  Shares
    the rebuild-on-remaining oracle with `substring_delete_serving`,
    closing the substring lane's lifecycle triangle (served ==
    delete-adjusted == compacted) the way the BM25 and ANN lanes
    closed theirs."""
    from ..operators import trigram

    root = _TRIGRAM_COMPACT_ZONES.get(sf_dir)
    if root is None:
        import tempfile

        src = _trigram_delete_root(spark, sf_dir)
        root = trigram.compact_trigram_index(
            spark, [src], tempfile.mkdtemp(prefix="trigram_compacted_") + "/zones"
        )
        _TRIGRAM_COMPACT_ZONES[sf_dir] = root
    docs = load_table(spark, sf_dir, "documents")
    return trigram.trigram_serve(spark, [root], _TRIGRAM_NEEDLE, docs)
