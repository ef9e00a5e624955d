"""Inverted-index BM25 retrieval: zone build, N-root serving, exact
rational scoring.

The index layout is four parquet zones per build root —

- ``postings``  (tok, doc_id, cnt, dl)  PARTITIONED BY ``tok_bucket =
  crc32(tok) % N_TOK_BUCKETS``, one file per bucket, so a query's scan
  is partition-pruned to its terms' bucket directories and the exact
  ``tok IN (...)`` predicate pushes into parquet row groups (the
  inverted-index seek).  Bucketing — not directory-per-term — keeps
  the partition count CONSTANT under vocabulary and corpus growth
  (a web-scale vocab would otherwise mean millions of directories and
  a driver-side listing bill that grows with the corpus; the r13
  ladder measured exactly that with a per-term layout).  dl is
  denormalized into the entry (the norms-in-postings layout) so
  scoring never joins a corpus-sized zone;
- ``doclen``    (doc_id, dl) — per-doc stats consumers / compaction;
- ``dfreq``     (tok, df);
- ``stats``     one row (n_docs, s_tokens);
- ``tombstones`` (doc_id, dl), OPTIONAL — deletion markers appended by
  `delete_from_bm25_index`; serving subtracts their contributions
  algebraically, compaction folds them out physically.

Roots, tombstones, the URI boundary, the compaction guard and the
index-directory layout follow the shared zone lifecycle in
`sources.zones`; this module keeps the zone schemas, the delete batch
(a doclen lookup) and the fold.

Every zone holds associative integer aggregates, so zones built over
DISJOINT document subsets merge exactly: postings/doclen union, dfreq
re-sums per term, stats add.  That associativity is what makes
the append path (`plans.extension_queries.bm25_append_serving`)
value-identical to a full rebuild — a contract the test suite and the
driver's oracle gate both pin.

Scoring is BM25 with k1=6/5, b=3/4 and the log-free rational idf
idf = (N - df + ½)/(df + ½) (the BM25 idf core without the log; see
``plans.extension_queries.bm25_topk`` for the derivation).  With
rational knobs each per-term score is one exact-BIGINT numerator over
one exact-BIGINT denominator; the single double division quantizes to
a 1e-9-grid long BEFORE the per-doc sum, so scores are engine- and
partitioning-independent.
"""

from __future__ import annotations

from collections.abc import Sequence

import logging

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import zones
from . import dedup

log = logging.getLogger(__name__)

#: posting-zone partition fan-out — constant under vocab/corpus growth
N_TOK_BUCKETS = 64

#: explicit zone read schemas: a batch whose docs are all empty-text
#: produces an EMPTY postings frame, and a partitioned parquet write of
#: an empty frame leaves no data files — schema inference then fails at
#: serve time.  Reading with declared schemas keeps every zone readable
#: regardless of content (edge-case test-pinned).
_POSTINGS_SCHEMA = (
    "doc_id LONG, cnt LONG, dl LONG, tok STRING, tok_bucket LONG"
)
#: the same zone carries in-doc token positions for phrase queries;
#: BM25 readers keep the narrower schema above (parquet reads project
#: by name, so the positions column costs them nothing)
_POSTINGS_POS_SCHEMA = (
    "doc_id LONG, cnt LONG, dl LONG, positions ARRAY<INTEGER>, "
    "tok STRING, tok_bucket LONG"
)
_DOCLEN_SCHEMA = "doc_id LONG, dl LONG"
_DFREQ_SCHEMA = "tok STRING, df LONG"
_STATS_SCHEMA = "n_docs LONG, s_tokens LONG"
#: deletion tombstones: (doc_id, dl) per deleted doc — dl is captured
#: at delete time (one keyed doclen lookup) so serving can adjust the
#: corpus stats without ever re-reading a corpus-sized zone
_TOMBSTONES_SCHEMA = "doc_id LONG, dl LONG"
_ZONE_SCHEMAS = {
    "postings": _POSTINGS_SCHEMA,
    "doclen": _DOCLEN_SCHEMA,
    "dfreq": _DFREQ_SCHEMA,
    "stats": _STATS_SCHEMA,
}


def tok_bucket_of(term: str) -> int:
    """Python twin of the zone's bucket key expression
    ``pmod(crc32(tok), N_TOK_BUCKETS)`` — zlib.crc32 is the same
    CRC-32 Spark's crc32() computes, and both are non-negative."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % N_TOK_BUCKETS


def bm25_term_q() -> Column:
    """The exact-rational BM25 per-term score as a 1e-9-grid long.

    Expects columns cnt (tf), dl, df, n_docs, s_tokens; k1=6/5 and
    b=3/4 folded into integer coefficients:

        (2(N-df)+1) · 22 · tf · S
        --------------------------------------------
        (2df+1) · (10·S·tf + 3·S + 9·dl·N)

    Numerator and denominator are each one exact integer computed in
    DECIMAL(38,0) — NOT BIGINT: the denominator's 10·S·tf factor alone
    exceeds int64 once S·tf ≳ 9.2e17 (a ~1e14-token corpus with tf
    ~1e4, i.e. well below 100 TB), where ANSI Spark would error the
    query and non-ANSI would silently wrap into wrong rankings
    (round-13 review).  DECIMAL(38,0) products stay exact up to 1e38,
    which bounds the den term (2df+1)·10·S·tf ≲ 2N·10·S·tf — safe for
    any corpus with N·S·tf_max < 5e36, i.e. far past exabyte scale.
    The single double division then quantizes to the 1e-9 grid, so
    scores are bit-identical across engines (the DuckDB oracle's
    BIGINT arithmetic agrees in the no-overflow regime it runs in)."""
    n = F.col("n_docs").cast("decimal(38,0)")
    df = F.col("df").cast("decimal(38,0)")
    tf = F.col("cnt").cast("decimal(38,0)")
    dl = F.col("dl").cast("decimal(38,0)")
    s = F.col("s_tokens").cast("decimal(38,0)")
    num = ((2 * (n - df) + 1) * 22 * tf * s).cast("double")
    den = ((2 * df + 1) * (10 * s * tf + 3 * s + 9 * dl * n)).cast(
        "double"
    )
    return F.floor(num / den * 1000000000 + F.lit(0.5)).cast("long")


def build_bm25_index(
    spark: SparkSession, docs: DataFrame, root: str | None = None
) -> str:
    """One pass over ``docs`` (doc_id, text) → the four zones under
    ``root`` (a fresh tempdir when None).  Returns the root.

    An explicit root is rewritten in place (`zones.build_root`)."""
    root, mode = zones.build_root(root, "bm25_index_")
    words = docs.select(
        "doc_id", F.posexplode(dedup._tokens("text")).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    # ONE tokenize pass for the whole build: four zone writes are four
    # Spark jobs, and an uncached lineage re-runs the explode for each
    # (r13 review measured ~4-6 corpus tokenizations per build).  tf is
    # the post-aggregate frame — persist it and derive dl FROM it
    # (dl = Σ cnt per doc, exactly the token count), so every zone
    # reads the materialized tf instead of the raw corpus.  persist,
    # NOT localCheckpoint: the cache is explicitly released in the
    # finally block below, where checkpoint blocks would sit in the
    # one-JVM storage pool until driver GC happened to run the
    # ContextCleaner — a long-running caller building index after
    # index accumulated them without bound (r13 review).  The sorted
    # in-doc position list rides in the same entry (the positional-index
    # layout) — phrase queries intersect positions of adjacent terms on
    # postings(q) alone, never re-reading text.
    tf = (
        words.groupBy("doc_id", "tok")
        .agg(
            F.count("*").alias("cnt"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
        .persist()
    )
    try:
        ntok = tf.groupBy("doc_id").agg(F.sum("cnt").alias("dl"))
        # denormalize dl INTO the posting entry (the classic norms-in-
        # postings layout): scoring then never joins the corpus-sized
        # doclen zone — a query's cost is |postings(q)| alone (SCALE.md
        # r13 BM25 ladder).  The doc_id join is co-partitioned (both
        # sides hash off the same explode), and the doclen zone is
        # still written for per-doc stats consumers and compaction.
        # repartition on the bucket key → one file per bucket
        # directory, so the whole zone is N_TOK_BUCKETS files no
        # matter the corpus.
        (
            tf.join(ntok, "doc_id")
            .withColumn(
                "tok_bucket",
                F.pmod(F.crc32(F.col("tok")), N_TOK_BUCKETS),
            )
            .repartition(F.col("tok_bucket"))
            .write.mode(mode)
            .partitionBy("tok_bucket")
            .parquet(f"{root}/postings")
        )
        ntok.write.mode(mode).parquet(f"{root}/doclen")
        tf.groupBy("tok").agg(F.count("*").alias("df")).write.mode(
            mode
        ).parquet(f"{root}/dfreq")
        ntok.groupBy().agg(
            F.count("*").alias("n_docs"), F.sum("dl").alias("s_tokens")
        ).write.mode(mode).parquet(f"{root}/stats")
    finally:
        tf.unpersist()
    return root


def _read_zones(
    spark: SparkSession,
    roots: Sequence[str],
    sub: str,
    positions: bool = False,
) -> DataFrame:
    """`zones.read_zone` with this lane's schema for ``sub``.
    ``positions=True`` widens a postings read to include the positional
    column (phrase path / compaction); BM25 scoring keeps the narrow
    schema so the column is never decoded."""
    schema = (
        _POSTINGS_POS_SCHEMA
        if positions and sub == "postings"
        else _ZONE_SCHEMAS[sub]
    )
    return zones.read_zone(spark, roots, sub, schema)


def _read_tombstones(
    spark: SparkSession, roots: Sequence[str]
) -> DataFrame | None:
    return zones.read_tombstones(spark, roots, _TOMBSTONES_SCHEMA)


def delete_from_bm25_index(
    spark: SparkSession,
    roots: Sequence[str],
    doc_ids: DataFrame | Sequence[int],
    tomb_root: str | None = None,
) -> int:
    """Delete documents from a living index WITHOUT a rebuild: append
    (doc_id, dl) tombstones under ``tomb_root`` (default: the first
    root).  Returns the number of newly tombstoned documents.

    Cost is one keyed lookup against the doclen zones (broadcast
    semi-join of the delete batch — the per-doc zone, never postings),
    NOT a corpus re-tokenize: serving subtracts the deleted docs'
    contributions algebraically (`bm25_serve`), and the next
    compaction folds them out physically (`compact_bm25_index`).
    This is the takedown/retraction path a 100 TB corpus needs —
    delete latency is proportional to the delete batch, and
    delete == rebuild-on-remaining is exact (driver-oracle-gated via
    ``plans.extension_queries.bm25_delete_serving``):

    - per-doc tf/dl ride in posting entries keyed by doc_id, so an
      anti-join removes them exactly;
    - df decrements by the deleted docs' postings ON THE QUERY TERMS —
      computable from the already-pruned postings(q) read at serve
      time, nothing corpus-sized;
    - stats decrement by (count, Σdl) of the tombstones, captured here.

    Ids absent from the index are ignored (no doclen row → no
    tombstone); re-deleting an already-tombstoned doc is a no-op.

    RE-INSERT after delete: a tombstone anti-joins its doc_id out of
    EVERY root's postings, including roots built later — so appending
    a new document under a tombstoned id (takedown then re-crawl)
    would leave it permanently invisible while its delta still bumps
    df/stats.  A tombstoned id must be compacted out (the fold erases
    the tombstone) before its id can be re-ingested;
    `zones.reingest_conflicts` detects the collision up front (the CLI
    append path refuses it)."""
    ids = zones.id_frame(spark, doc_ids, "doc_id")
    batch = _read_zones(spark, roots, "doclen").join(
        F.broadcast(ids.distinct()), "doc_id"
    )
    return zones.append_tombstones(
        spark, roots, batch, _TOMBSTONES_SCHEMA, tomb_root
    )


def bm25_serve(
    spark: SparkSession,
    roots: Sequence[str],
    terms: Sequence[str],
    k: int = 10,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Top-``k`` (doc_id, bm25_q, rk) for ``terms`` over the merged
    view of one or more index roots built on DISJOINT doc subsets.

    Per root, the postings read keeps its own tok_bucket partition
    filter plus the pushed ``tok IN (...)`` row-group predicate (roots
    live in unrelated directories, so partition discovery runs per
    root — one multi-path read would fail on conflicting structures).  dfreq re-sums per term and the 1-row stats add, which
    is exactly the full rebuild's aggregates by associativity.  dl
    rides in the posting entry, so the query touches nothing
    corpus-sized; top-k is orderBy+limit (TakeOrderedAndProject), then
    the rank window runs over k rows.

    ``max_df_frac`` (round 14): the hot-term guard — the ONE input
    shape where per-query cost stops being flat is a term with df ≈ N
    (a stopword), whose posting list is corpus-sized by definition.
    When set, terms with df > max_df_frac·N are DROPPED before their
    postings are read: the decision costs one bounded metadata action
    (the query's ≤|terms| dfreq rows × the 1-row stats — the same
    pre-read a production query planner does), and the drop is logged
    with the firing count (the ``max_bucket``/``max_value_df`` cap
    discipline applied to postings).  Dropping a saturated term is the
    classic stopword cut: its idf ≈ (N−df+½)/(df+½) is near the floor,
    so it contributes almost nothing to ranking while costing almost
    everything to scan.  With no hot term the served scores are
    IDENTICAL to the unguarded query (property-pinned); df here is the
    zone df (pre-tombstone — the guard is a cost bound, not a scoring
    input).  Queries reduced to ONLY hot terms return empty."""
    from pyspark.sql import Window

    if not terms:
        raise ValueError("bm25_serve: need at least one query term")

    terms = list(dict.fromkeys(terms))
    if max_df_frac is not None:
        stats_pre = _read_zones(spark, roots, "stats").agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs")
        )
        df_pre = (
            _read_zones(spark, roots, "dfreq")
            .filter(F.col("tok").isin(*terms))
            .groupBy("tok")
            .agg(F.sum("df").alias("df"))
            .crossJoin(F.broadcast(stats_pre))
        )
        hot = {
            r.tok: (r.df, r.n_docs)
            for r in df_pre.collect()
            if r.df > max_df_frac * r.n_docs
        }
        if hot:
            worst = max(f / n for f, n in hot.values())
            log.warning(
                "bm25_serve: max_df_frac=%.3g dropped %d of %d query "
                "terms (df/N up to %.3g): %s",
                max_df_frac,
                len(hot),
                len(terms),
                worst,
                sorted(hot),
            )
            terms = [t for t in terms if t not in hot]
            if not terms:
                return spark.createDataFrame(
                    [], "doc_id LONG, bm25_q LONG, rk INT"
                )

    buckets = sorted({tok_bucket_of(t) for t in terms})
    postings = _read_zones(spark, roots, "postings").filter(
        F.col("tok_bucket").isin(*buckets) & F.col("tok").isin(*terms)
    )
    dfreq = (
        _read_zones(spark, roots, "dfreq")
        .filter(F.col("tok").isin(*terms))
        .groupBy("tok")
        .agg(F.sum("df").alias("df"))
    )
    stats = _read_zones(spark, roots, "stats").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("s_tokens").alias("s_tokens"),
    )
    tomb = _read_tombstones(spark, roots)
    if tomb is not None:
        # deletion adjustments, all computed from the ALREADY-PRUNED
        # postings(q) read plus the (delete-batch-sized, broadcast)
        # tombstone zone — serving stays |postings(q)|-bounded:
        #  - deleted docs' posting rows drop (anti-join);
        #  - df decrements by the deleted docs' postings per query
        #    term (postings(q) ⋉ tombstones, counted per tok);
        #  - stats decrement by (count, Σdl) captured at delete time.
        # The result is EXACTLY the rebuild-on-remaining-docs zones
        # restricted to the query terms (oracle-gated contract).
        tomb_ids = F.broadcast(tomb.select("doc_id"))
        df_rm = (
            postings.join(tomb_ids, "doc_id")
            .groupBy("tok")
            .agg(F.count("*").alias("df_rm"))
        )
        postings = postings.join(tomb_ids, "doc_id", "left_anti")
        dfreq = dfreq.join(df_rm, "tok", "left").select(
            "tok",
            (F.col("df") - F.coalesce(F.col("df_rm"), F.lit(0))).alias(
                "df"
            ),
        )
        trm = tomb.agg(
            F.count("*").alias("n_rm"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("s_rm"),
        )
        stats = stats.crossJoin(trm).select(
            (F.col("n_docs") - F.col("n_rm")).alias("n_docs"),
            (F.col("s_tokens") - F.col("s_rm")).alias("s_tokens"),
        )
    # dl rides in the posting entry, so nothing corpus-sized is read:
    # the plan is postings(q) ⋈ broadcast(dfreq) × broadcast(stats)
    scored = (
        postings.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn("term_q", bm25_term_q())
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("term_q").cast("long").alias("bm25_q")
    )
    top = agg.orderBy(F.desc("bm25_q"), "doc_id").limit(k)
    w = Window.orderBy(F.desc("bm25_q"), "doc_id")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "bm25_q", "rk"
    )


def compact_bm25_index(
    spark: SparkSession, roots: Sequence[str], out_root: str
) -> str:
    """Fold many zone roots (a base and its append deltas) into ONE
    — zone-level unions and re-sums only, never a re-tokenize:
    postings and dfreq re-sum per key across roots (a doc split across
    roots would double-count otherwise — inputs must be disjoint-doc
    roots, which both producers guarantee), doclen unions, stats add.
    Serving over the compacted root equals serving over the inputs by
    the same associativity the producers rely on; at scale this is the
    periodic job that keeps the per-query root fan-in (and file count)
    bounded while ingest keeps appending deltas.

    Tombstones FOLD here: deleted docs' posting/doclen rows are
    anti-joined out and dfreq/stats recomputed from the folded zones,
    so the output root carries NO tombstones zone — serving it needs
    no per-query adjustment, and the tombstone set never grows past
    one compaction interval (the lifecycle: delete appends a
    tombstone, serve subtracts it algebraically, compact erases it
    physically).  ``out_root`` is guarded by `zones.compact_root`."""
    out_root = zones.compact_root(out_root, roots)
    tomb = _read_tombstones(spark, roots)
    postings = zones.drop_tombstoned(
        _read_zones(spark, roots, "postings", positions=True), tomb
    )
    doclen = zones.drop_tombstoned(_read_zones(spark, roots, "doclen"), tomb)

    folded = postings.groupBy("doc_id", "tok", "tok_bucket").agg(
        # disjoint-doc roots: each (doc_id, tok) lives in exactly one
        # root, so sum(cnt) == cnt, max(dl) == dl and first(positions)
        # is the single row's list — the aggregate is a concatenation,
        # written here as re-sums for shape uniformity
        F.sum("cnt").alias("cnt"),
        F.max("dl").alias("dl"),
        F.first("positions").alias("positions"),
    )
    (
        folded.repartition(F.col("tok_bucket"))
        .write.mode("overwrite")
        .partitionBy("tok_bucket")
        .parquet(f"{out_root}/postings")
    )
    doclen_folded = doclen.groupBy("doc_id").agg(
        F.sum("dl").alias("dl")
    )
    doclen_folded.write.mode("overwrite").parquet(f"{out_root}/doclen")
    if tomb is not None:
        # df must EXCLUDE tombstoned docs: recompute from the JUST-
        # WRITTEN folded zones (one row per live (doc, tok) → count
        # per tok; doclen → count + Σdl).  Reading the compacted
        # output back is deliberate — the folded frames' lineage would
        # re-run the anti-join aggregation per consumer, while the
        # parquet round-trip costs one bounded re-read.  The reads are
        # schema-declared: a FULL takedown folds to an empty postings
        # zone, whose partitioned write leaves no data files to infer
        # a schema from (the _ZONE_SCHEMAS edge case; r14 review).
        (
            spark.read.schema(_POSTINGS_SCHEMA)
            .parquet(f"{out_root}/postings")
            .groupBy("tok")
            .agg(F.count("*").alias("df"))
            .write.mode("overwrite")
            .parquet(f"{out_root}/dfreq")
        )
        (
            spark.read.schema(_DOCLEN_SCHEMA)
            .parquet(f"{out_root}/doclen")
            .groupBy()
            .agg(
                F.count("*").alias("n_docs"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("s_tokens"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_root}/stats")
        )
    else:
        # no deletes: the vocab-sized dfreq zones re-sum and the 1-row
        # stats zones add — nothing corpus-sized re-aggregated
        (
            _read_zones(spark, roots, "dfreq")
            .groupBy("tok")
            .agg(F.sum("df").alias("df"))
            .write.mode("overwrite")
            .parquet(f"{out_root}/dfreq")
        )
        _read_zones(spark, roots, "stats").agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("s_tokens").alias("s_tokens"),
        ).write.mode("overwrite").parquet(f"{out_root}/stats")
    return out_root


def phrase_serve(
    spark: SparkSession,
    roots: Sequence[str],
    phrase: Sequence[str],
    k: int = 10,
    rarest_semijoin_cap: int = 1_000_000,
) -> DataFrame:
    """Top-``k`` (doc_id, n_occur, rk) documents containing the exact
    adjacent-token ``phrase``, served from the positional posting zone
    — the classic positional-index phrase algorithm, distributed:

    1. read ONLY the phrase terms' postings (bucket partition filter +
       pushed tok predicate, same seek as BM25);
    2. inner-join the n terms' postings on doc_id (a doc must contain
       every term to match — the joins shrink the candidate set);
    3. per doc, shift term i's position list left by i and intersect:
       |∩ᵢ (positions(tᵢ) − i)| is EXACTLY the occurrence count of the
       phrase (positions are distinct within a list, so the
       intersection is duplicate-free).

    Work is proportional to |postings(phrase terms)|; the corpus text
    is never re-read.  Value-identity with the brute zip-compare count
    over the tokenized text is property-pinned and shared-oracle-gated
    (`plans.extension_queries.phrase_topk` / `phrase_serving`).

    Rarest-first cost bound (round 15): exact phrase semantics forbid
    DROPPING a hot term the way `bm25_serve`'s ``max_df_frac`` does —
    "of the people" must match "of" — so a stopword inside a phrase
    would otherwise stream its corpus-sized posting list into the
    doc_id join even though the intersection output is bounded by the
    RAREST term's df.  Two measures, both result-identical (inner
    joins commute, and pre-filtering one side by doc_ids the other
    side is about to inner-join anyway removes only rows the join
    would drop — property-pinned):

    - join order is ascending-df (the ≤|phrase|-row dfreq lookup the
      planner reads anyway), so the accumulating side never exceeds
      the rarest term's postings;
    - when the rarest term's df ≤ ``rarest_semijoin_cap``, every other
      term's postings are semi-joined map-side against the BROADCAST
      rarest doc_id set before anything else — a hot term's
      corpus-sized list is filtered at the scan, never shuffled.
      Above the cap (no term is rare enough to broadcast) the plan
      falls back to plain ascending-df joins, logged.

    A term absent from dfreq short-circuits to an empty result (the
    inner join would produce one anyway) with zero postings reads."""
    from pyspark.sql import Window

    if len(phrase) < 2:
        raise ValueError("phrase_serve: a phrase needs >= 2 terms")

    dfs = {
        r.tok: r.df
        for r in (
            _read_zones(spark, roots, "dfreq")
            .filter(F.col("tok").isin(*set(phrase)))
            .groupBy("tok")
            .agg(F.sum("df").alias("df"))
            .collect()
        )
    }
    missing = sorted({t for t in phrase if t not in dfs})
    if missing:
        log.info(
            "phrase_serve: term(s) %s not in the index — empty result "
            "without reading postings",
            missing,
        )
        return spark.createDataFrame([], "doc_id LONG, n_occur LONG, rk INT")

    order = sorted(range(len(phrase)), key=lambda i: (dfs[phrase[i]], i))
    rare_i = order[0]
    rare_df = dfs[phrase[rare_i]]
    semijoin = rare_df <= rarest_semijoin_cap
    if not semijoin:
        log.warning(
            "phrase_serve: rarest term %r has df=%d > "
            "rarest_semijoin_cap=%d — no side is broadcastable; "
            "falling back to ascending-df joins only",
            phrase[rare_i],
            rare_df,
            rarest_semijoin_cap,
        )
    else:
        # doc_id-only read of the rarest term's postings (narrow
        # schema: the positions column is never decoded for this
        # frame); df rows of 8-byte ids, bounded by the cap
        rare_ids = (
            _read_zones(spark, roots, "postings")
            .filter(
                (F.col("tok_bucket") == tok_bucket_of(phrase[rare_i]))
                & (F.col("tok") == phrase[rare_i])
            )
            .select("doc_id")
        )

    # one INDEPENDENT zone read per phrase term: deriving all sides
    # from a single filtered frame is the classic self-join trap —
    # Catalyst can conflate the per-term filters across the shared
    # lineage (observed returning "hash hash" matches for
    # "spark hash") — and per-term reads also prune to exactly one
    # bucket directory each
    def _shift_by(shift: int):
        # MUST be a one-arg lambda: F.transform calls a TWO-arg lambda
        # with (element, index), which would silently overwrite a
        # `shift=i` default with the element index (found the hard way)
        return lambda p: p - F.lit(shift)

    joined = None
    for i in order:
        term = phrase[i]
        side = (
            _read_zones(spark, roots, "postings", positions=True)
            .filter(
                (F.col("tok_bucket") == tok_bucket_of(term))
                & (F.col("tok") == term)
            )
            .select(
                "doc_id",
                F.transform("positions", _shift_by(i)).alias(f"p{i}"),
            )
        )
        if semijoin and i != rare_i:
            # doc_id is unique within a term's postings, so the inner
            # join against the distinct broadcast id set is exactly a
            # semi-join: the hot side is filtered at its scan
            # (broadcast-hash, zero shuffle) down to ≤rare_df rows
            side = side.join(F.broadcast(rare_ids), "doc_id")
        joined = side if joined is None else joined.join(side, "doc_id")
    inter = F.col("p0")
    for i in range(1, len(phrase)):
        inter = F.array_intersect(inter, F.col(f"p{i}"))
    occ = (
        joined.withColumn("n_occur", F.size(inter).cast("long"))
        .filter(F.col("n_occur") > 0)
        .select("doc_id", "n_occur")
    )
    # phrase counts are per-doc (no corpus stats), so deletion is one
    # anti-join on the (already term-bounded) match frame
    occ = zones.drop_tombstoned(occ, _read_tombstones(spark, roots))
    top = occ.orderBy(F.desc("n_occur"), "doc_id").limit(k)
    w = Window.orderBy(F.desc("n_occur"), "doc_id")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "n_occur", "rk"
    )
