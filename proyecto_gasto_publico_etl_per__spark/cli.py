"""CLI mirroring the reference's entry points.

Reference commands (README.md:129-156):

    python etl/transformar_mensual.py [years] [--overwrite]
    python etl/cargar_postgres.py [years] [--batch N] ...

Here:

    python -m proyecto_gasto_publico_etl_per__spark.cli transform RAW.csv OUT_DIR [--overwrite]
    python -m proyecto_gasto_publico_etl_per__spark.cli load NORMALIZED_DIR WAREHOUSE
    python -m proyecto_gasto_publico_etl_per__spark.cli query WAREHOUSE {q1..q7} [params]

The batch/subbatch/resume knobs of the reference's loader do not exist:
partitioned execution, task retry, and idempotent append make them moot
(SURVEY.md §4).
"""

from __future__ import annotations

import argparse

from .plans import mef_pipeline
from .plans import queries as Q
from .session import get_spark
from .operators.skew import pin
from .sources import zones


def _layout(fn, *args):
    """A `sources.zones` layout call (resolver, build/append target,
    out-dir guard); its refusal exits the CLI with the message."""
    try:
        return fn(*args)
    except ValueError as exc:
        raise SystemExit(str(exc)) from exc


def _index_roots(index_dir: str, marker: str, what: str) -> list[str]:
    """The zone roots of an index dir (`zones.index_roots`: base/ and
    delta=N/, or a bare root holding ``marker``)."""
    roots = _layout(zones.index_roots, index_dir, marker)
    if not roots:
        raise SystemExit(
            f"{index_dir}: no {what} here (expected base/ and delta=N/, "
            f"or a bare zone root with {marker})"
        )
    return roots


def _refuse_reingest(spark, roots, ids, id_col: str) -> None:
    """The append guard every tombstoned lane shares: an incoming id
    that is tombstoned would stay invisible after the append."""
    clash = zones.reingest_conflicts(spark, roots, ids, id_col)
    if clash:
        raise SystemExit(
            f"{'100+' if len(clash) == 100 else len(clash)} incoming "
            f"id(s) are tombstoned in this index (e.g. {clash[:5]}); "
            "appending them would leave those rows invisible. Compact "
            "the index first (it folds tombstones out) or re-ingest "
            "under fresh ids."
        )


def _delete_request(spark, args, ids: list[int]):
    """A ``*-delete`` command's ids: the command-line list, or the
    frame at ``--ids-parquet`` (its first column)."""
    if args.ids_parquet is not None:
        return spark.read.parquet(args.ids_parquet)
    if not ids:
        raise SystemExit(f"{args.cmd}: pass ids or --ids-parquet")
    return ids


def _split_cols(s: str) -> list[str]:
    return [c for c in s.split(",") if c]


def _resolve_ann_knobs(
    spark, base, manifest, k, rerank, nprobe, target_recall
):
    """The --target-recall resolution shared by ann-search and
    hybrid-search: returns (nprobe, k, rerank).  With no target, the
    CLI knobs pass through.  With a target, the manifest's MEASURED
    recall ladder resolves nprobe (`similarity.resolve_nprobe`), the
    ladder's measured (k, rerank) pin over the CLI's (serving at
    different knobs voids the measurement — printed when they differ),
    and the staleness anchor is enforced: an append-grown index
    refuses a ladder it has outgrown, a delete-shrunk one warns (the
    conservative direction)."""
    from .operators import similarity

    if target_recall is None:
        return nprobe, k, rerank
    ladder = manifest.get("recall_ladder")
    if not ladder:
        raise SystemExit(
            "--target-recall needs a measured recall_ladder in "
            "the index manifest; write one with "
            "tools/ann_knob_sweep.py --write-manifest "
            f"{base}"
        )
    ladder_k = int(ladder[0].get("k", k))
    ladder_rerank = int(manifest.get("rerank", rerank))
    if (k, rerank) != (ladder_k, ladder_rerank):
        print(
            f"--target-recall pins k={ladder_k} "
            f"rerank={ladder_rerank} (the knobs the ladder was "
            f"measured at); ignoring --k={k} --rerank={rerank} "
            "— re-measure the ladder at those knobs to serve "
            "them with a recall target"
        )
        k, rerank = ladder_k, ladder_rerank
    # staleness guard: appends grow the index without re-measuring;
    # refuse to resolve from a ladder the index has outgrown
    # (similarity.LADDER_MAX_GROWTH_FRAC).  The count job only runs
    # when there IS an anchor to compare against — pre-anchor
    # manifests must not pay a wasted Spark action on every serve
    anchor = manifest.get("ladder_index_n")
    index_n = (
        spark.read.parquet(f"{base}/index_assigned").count()
        if anchor is not None
        else None
    )
    nprobe = similarity.resolve_nprobe(
        ladder,
        target_recall,
        ladder_index_n=anchor,
        index_n=index_n,
    )
    print(
        f"target_recall={target_recall} -> nprobe={nprobe} "
        "(from the manifest's measured ladder)"
    )
    return nprobe, k, rerank


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(prog="gasto-engine")
    sub = parser.add_subparsers(dest="cmd", required=True)

    t = sub.add_parser("transform", help="raw CSV (file or dir) → normalized parquet")
    t.add_argument("raw_csv")
    t.add_argument("out_dir")
    t.add_argument(
        "years", nargs="*", type=int,
        help="restrict a raw DIRECTORY to these years (reference CLI parity)",
    )
    t.add_argument("--overwrite", action="store_true")

    ld = sub.add_parser("load", help="normalized parquet → star warehouse")
    ld.add_argument("normalized_dir")
    ld.add_argument("warehouse")
    ld.add_argument(
        "years", nargs="*", type=int,
        help="load only these years (partition-pruned read, ref CLI parity)",
    )
    ld.add_argument(
        "--validate", action="store_true",
        help="fail loudly if the normalized input violates the standard "
             "record invariants (one extra scan)",
    )

    ins = sub.add_parser(
        "inspect",
        help="first N rows of a raw CSV (the reference's documented-but-"
             "absent revision_contenido.py, README.md:159-167)",
    )
    ins.add_argument("raw_csv")
    ins.add_argument("--rows", type=int, default=100)

    sn = sub.add_parser(
        "sniff",
        help="separator/encoding detection (the reference's documented-"
             "but-absent comprobacion.py, README.md:190-196)",
    )
    sn.add_argument("raw_csv")

    s = sub.add_parser(
        "sql",
        help="run ad-hoc SQL over the registered warehouse views "
             "(vw_gasto_mensual / vw_gasto_agregado_{mensual,anual}) — the "
             "reference's psql-against-views workflow "
             "(CreacionDeUsuariosyVistas.sql grants SELECT on exactly these)",
    )
    s.add_argument("warehouse")
    s.add_argument("statement")
    s.add_argument("--rows", type=int, default=50)

    r = sub.add_parser(
        "refresh-agg",
        help="materialize / incrementally refresh the monthly serving "
             "aggregate (partition-scoped when years are given)",
    )
    r.add_argument("warehouse")
    r.add_argument("agg_path")
    r.add_argument("years", nargs="*", type=int)

    cb = sub.add_parser(
        "corpus-build",
        help="end-to-end training-corpus build: profile -> clean (quality/"
             "lang/dedup) -> leakage-free splits -> packed sequences",
    )
    cb.add_argument("sf_dir")
    cb.add_argument("out_dir")
    cb.add_argument("--lang", default="en")
    cb.add_argument("--val-fraction", type=float, default=0.01)
    cb.add_argument("--test-fraction", type=float, default=0.01)
    cb.add_argument(
        "--dsir-target-source",
        action="append",
        default=None,
        dest="dsir_target_sources",
        help="repeatable; sources whose docs form the DSIR target-domain "
             "exemplar — other train docs are importance-scored against "
             "them and only the top --dsir-keep-frac survive",
    )
    cb.add_argument("--dsir-keep-frac", type=float, default=0.5)
    cb.add_argument(
        "--dsir-sample-permille",
        type=int,
        default=None,
        help="explicit hash-sample permille for the DSIR threshold "
             "quantile (1000 = exact full-corpus collect, the "
             "small-scale opt-in); default auto-bounds the driver-side "
             "sample to ~256k rows regardless of corpus size",
    )

    ab = sub.add_parser(
        "ann-build-index",
        help="build + persist the IVF-PQ serving index over an "
             "embeddings table: centroids + codebook (model store) and "
             "coarse-assignment + PQ-code parquet zones",
    )
    ab.add_argument("sf_dir")
    ab.add_argument("index_dir")
    ab.add_argument("--n-centroids", type=int, default=16)
    ab.add_argument(
        "--m", type=int, default=16,
        help="PQ subspaces; narrower subvectors quantize better "
             "(recall-measured default, see SCALE.md)",
    )
    ab.add_argument("--n-codes", type=int, default=16)

    aap = sub.add_parser(
        "ann-append-index",
        help="incremental index refresh: encode NEW vectors (vec_id >= "
             "--from-id) with the index's frozen artifacts and append "
             "them to the persisted zones — never re-encodes the "
             "existing corpus, never re-derives the quantizer",
    )
    aap.add_argument("sf_dir")
    aap.add_argument("index_dir")
    aap.add_argument(
        "--from-id", type=int, required=True,
        help="first vec_id of the delta batch (ids below are assumed "
             "already indexed)",
    )
    aap.add_argument(
        "--remeasure-ladder",
        action="store_true",
        help="re-measure the manifest's recall ladder on the grown index "
             "after the append (at the manifest's recorded knobs), so "
             "--target-recall serving stays unblocked past the staleness "
             "budget without a separate ann_knob_sweep run",
    )

    asr = sub.add_parser(
        "ann-search",
        help="serve top-k neighbors for query vector ids from a "
             "persisted ann-build-index (probe -> ADC -> exact re-rank; "
             "never re-encodes the corpus)",
    )
    asr.add_argument("sf_dir")
    asr.add_argument("index_dir")
    asr.add_argument("query_ids", nargs="+", type=int)
    asr.add_argument("--k", type=int, default=5)
    asr.add_argument("--nprobe", type=int, default=4)
    asr.add_argument("--rerank", type=int, default=8)
    asr.add_argument(
        "--target-recall",
        type=float,
        default=None,
        help="resolve nprobe from the index manifest's MEASURED recall "
             "ladder instead of --nprobe (write the ladder with "
             "tools/ann_knob_sweep.py --write-manifest)",
    )

    hyb = sub.add_parser(
        "hybrid-search",
        help="the RAG serving shape from persisted indexes: BM25 top-k "
             "over a text index + dense top-k over an ann index for "
             "one query id, fused by reciprocal-rank fusion (exact "
             "integer grid) — fusion touches only the two output "
             "lists, both index-bounded",
    )
    hyb.add_argument("sf_dir")
    hyb.add_argument("text_index_dir")
    hyb.add_argument("ann_index_dir")
    hyb.add_argument("query_id", type=int)
    hyb.add_argument("terms", nargs="+")
    hyb.add_argument("--k", type=int, default=5)
    hyb.add_argument(
        "--component-k", type=int, default=10,
        help="depth of each component ranking before fusion",
    )
    hyb.add_argument("--nprobe", type=int, default=4)
    hyb.add_argument("--rerank", type=int, default=8)
    hyb.add_argument(
        "--max-df-frac", type=float, default=None,
        help="hot-term guard for the BM25 component (see text-search)",
    )
    hyb.add_argument(
        "--target-recall", type=float, default=None,
        help="resolve the dense component's nprobe from the ann index "
             "manifest's MEASURED recall ladder instead of --nprobe "
             "(see ann-search; pins the dense depth/rerank to the "
             "measured knobs)",
    )

    adl = sub.add_parser(
        "ann-delete",
        help="tombstone vectors in a persisted ann index (takedown "
             "without rebuild): search anti-joins them out exactly "
             "(delete == rebuild-on-remaining); the next ann-compact "
             "folds them out physically",
    )
    adl.add_argument("index_dir")
    adl.add_argument(
        "vec_ids", nargs="*", type=int, help="vector ids to delete"
    )
    adl.add_argument(
        "--ids-parquet", default=None,
        help="parquet whose first column holds the vec ids to delete "
             "(for batch takedowns)",
    )

    acp = sub.add_parser(
        "ann-compact",
        help="fold a tombstoned ann index into a fresh out_dir: zones "
             "anti-joined (never re-encoded), frozen artifacts copied "
             "verbatim, no tombstones zone left — serving needs no "
             "per-query adjustment afterwards",
    )
    acp.add_argument("index_dir")
    acp.add_argument("out_dir")

    tib = sub.add_parser(
        "text-index-build",
        help="build the persisted BM25 inverted index over a documents "
             "parquet (doc_id, text): tok-bucketed postings with "
             "denormalized doc lengths + dfreq/stats zones at "
             "<index_dir>/base",
    )
    tib.add_argument("docs_parquet")
    tib.add_argument("index_dir")

    tia = sub.add_parser(
        "text-index-append",
        help="index a NEW document batch into its own delta zone set "
             "(<index_dir>/delta=N) — never re-tokenizes the existing "
             "corpus; search serves base+deltas merged (associative "
             "zones, append == rebuild)",
    )
    tia.add_argument("docs_parquet")
    tia.add_argument("index_dir")

    tsr = sub.add_parser(
        "text-search",
        help="BM25 top-k over a persisted text index (base + any "
             "deltas): partition-pruned postings read, never a corpus "
             "scan",
    )
    tsr.add_argument("index_dir")
    tsr.add_argument("terms", nargs="+")
    tsr.add_argument("--k", type=int, default=10)
    tsr.add_argument(
        "--phrase",
        action="store_true",
        help="treat the terms as one exact adjacent-token phrase "
             "(positional posting intersection) instead of a BM25 "
             "bag-of-terms query — same index, no corpus re-read",
    )
    tsr.add_argument(
        "--max-df-frac", type=float, default=None,
        help="hot-term guard: drop query terms whose df exceeds this "
             "fraction of the corpus (a stopword's posting list is "
             "corpus-sized — the one shape where per-query cost stops "
             "being flat); drops are logged with the firing count",
    )

    tic = sub.add_parser(
        "text-index-compact",
        help="fold base + delta zone sets into one root at out_dir "
             "(zone-level re-sums, no re-tokenize) — bounds per-query "
             "root fan-in after many appends; folds any tombstones "
             "out physically",
    )
    tic.add_argument("index_dir")
    tic.add_argument("out_dir")

    tid = sub.add_parser(
        "text-index-delete",
        help="tombstone documents in a text index (takedown/"
             "retraction without rebuild): search subtracts their "
             "contributions exactly (delete == rebuild-on-remaining); "
             "the next compact folds them out physically",
    )
    tid.add_argument("index_dir")
    tid.add_argument(
        "doc_ids", nargs="*", type=int,
        help="document ids to delete",
    )
    tid.add_argument(
        "--ids-parquet", default=None,
        help="parquet whose first column holds the doc ids to delete "
             "(for batch takedowns)",
    )

    sib = sub.add_parser(
        "substring-index-build",
        help="build the trigram substring index over a documents "
             "parquet (doc_id, text): crc32-bucketed trigram postings "
             "at <index_dir>/base — substring-search then answers "
             "LIKE '%%needle%%' without a corpus scan",
    )
    sib.add_argument("docs_parquet")
    sib.add_argument("index_dir")

    sia = sub.add_parser(
        "substring-index-append",
        help="trigram-index a NEW document batch into its own delta "
             "zone (<index_dir>/delta=N) — postings are sets over "
             "disjoint docs, so serving base+deltas == a full rebuild",
    )
    sia.add_argument("docs_parquet")
    sia.add_argument("index_dir")

    ssr = sub.add_parser(
        "substring-search",
        help="case-insensitive substring containment over an indexed "
             "corpus: candidates from the trigram postings (partition-"
             "pruned), verified over candidates only — never a corpus "
             "text scan; needles under 3 chars are refused",
    )
    ssr.add_argument("index_dir")
    ssr.add_argument("docs_parquet",
                     help="the indexed corpus (candidates verify "
                          "against its text by keyed lookup)")
    ssr.add_argument("needle")
    ssr.add_argument("--limit", type=int, default=20,
                     help="max doc ids to print")

    sid = sub.add_parser(
        "substring-index-delete",
        help="tombstone documents in a trigram index (takedown without "
             "rebuild): search anti-joins them from the candidate set; "
             "rebuild the index (or compact) to fold them physically",
    )
    sid.add_argument("index_dir")
    sid.add_argument(
        "doc_ids", nargs="*", type=int, help="document ids to delete"
    )
    sid.add_argument(
        "--ids-parquet", default=None,
        help="parquet whose first column holds the doc ids to delete",
    )

    azb = sub.add_parser(
        "agg-zone-build",
        help="materialize a partial-aggregate zone over a parquet "
             "input at <agg_dir>/base: per-group count / exact sums / "
             "min / max / KMV distinct sketches — serve merges zones "
             "instead of recomputing (incremental rollups)",
    )
    azb.add_argument("input_parquet")
    azb.add_argument("agg_dir")
    azb.add_argument(
        "--keys", required=True,
        help="comma-separated group-key columns",
    )
    azb.add_argument("--sums", default="", help="comma-separated sum columns "
                     "(integer/decimal only — convert money doubles to the "
                     "cents/micros grid first)")
    azb.add_argument("--mins", default="", help="comma-separated min columns")
    azb.add_argument("--maxs", default="", help="comma-separated max columns")
    azb.add_argument(
        "--kmvs", default="",
        help="comma-separated distinct-sketch columns (deterministic "
             "K-Minimum-Values; exact below k distinct)",
    )
    azb.add_argument("--k", type=int, default=None,
                     help="KMV sketch size (default 64)")

    aza = sub.add_parser(
        "agg-zone-append",
        help="aggregate a NEW row batch into its own delta zone "
             "(<agg_dir>/delta=N) under the BASE zone's spec — never "
             "re-reads prior data; serve merges base+deltas "
             "(associative partials, append == rebuild)",
    )
    aza.add_argument("input_parquet")
    aza.add_argument("agg_dir")

    azs = sub.add_parser(
        "agg-zone-serve",
        help="final aggregates over all zone roots (base + deltas): "
             "reads |groups|x|zones| partial rows, never the base table",
    )
    azs.add_argument("agg_dir")
    azs.add_argument("--out", default=None,
                     help="write results to this parquet dir instead of "
                          "printing")
    azs.add_argument("--limit", type=int, default=50,
                     help="max rows to print (ignored with --out)")

    azc = sub.add_parser(
        "agg-zone-compact",
        help="fold base + delta zones into ONE root at out_dir "
             "(partial-level merge, no base-table re-read) — bounds "
             "serve-time fan-in after many appends",
    )
    azc.add_argument("agg_dir")
    azc.add_argument("out_dir")

    tst = sub.add_parser(
        "table-stats",
        help="collect a per-file min/max/null/row-count manifest for a "
             "parquet table (footer reads only, distributed) into "
             "<table>/_stats_manifest — the data-skipping catalog for "
             "table-scan; re-run after appends (stale manifests refuse)",
    )
    tst.add_argument("table_dir")
    tst.add_argument("columns", nargs="*",
                     help="columns to track min/max stats for")
    tst.add_argument(
        "--blooms", default="",
        help="comma-separated columns to build per-file bloom filters "
             "for (equality skipping on hash-clustered layouts; costs "
             "one column-pruned data scan, unlike the footer-only "
             "min/max stats)",
    )

    tsc = sub.add_parser(
        "table-scan",
        help="range-scan a parquet table through its stats manifest: "
             "files whose [min,max] cannot match are never scheduled "
             "(partition pruning without partition directories)",
    )
    tsc.add_argument("table_dir")
    tsc.add_argument("column")
    tsc.add_argument("--lower", default=None,
                     help="inclusive lower bound (typed from the column)")
    tsc.add_argument("--upper", default=None,
                     help="inclusive upper bound (typed from the column)")
    tsc.add_argument(
        "--equals", default=None,
        help="point lookup: keep only files whose stats/bloom admit "
             "column == value (mutually exclusive with --lower/--upper)",
    )
    tsc.add_argument("--out", default=None,
                     help="write matching rows to this parquet dir instead "
                          "of printing the count")

    dfz = sub.add_parser(
        "drift-freeze",
        help="persist the corpus reference token distribution (top-V "
             "tokens + universe total) the drift monitor scores against",
    )
    dfz.add_argument("sf_dir")
    dfz.add_argument("ref_dir")
    dfz.add_argument("--top-v", type=int, default=200)

    dsc = sub.add_parser(
        "drift-score",
        help="goodness-of-fit chi-square of a batch's token distribution "
             "vs a frozen drift-freeze reference (one row: n_tokens, "
             "chi2_micro)",
    )
    dsc.add_argument("sf_dir")
    dsc.add_argument("ref_dir")

    ce = sub.add_parser(
        "classifier-eval",
        help="k-fold cross-validation of the quality classifier on a "
             "corpus-build profile zone: per-fold held-out AUC + "
             "log-loss (vs the zero-model baseline)",
    )
    ce.add_argument(
        "profile_dir",
        help="a corpus-build out_dir/profile zone (quality_stats + "
             "lang_id columns)",
    )
    ce.add_argument("--k", type=int, default=5)
    ce.add_argument(
        "--label-col",
        default=None,
        help="existing 0/1 label column in the profile zone (real "
             "deployments: curated labels joined into the zone)",
    )
    ce.add_argument(
        "--label-lang",
        default="en",
        help="without --label-col, label docs 1 when the profile zone's "
             "ground-truth `lang` column equals this (the source-"
             "affinity proxy labeling; pass --label-col for real labels)",
    )
    ce.add_argument("--n-iters", type=int, default=40)
    ce.add_argument("--lr", type=float, default=1.0)

    q = sub.add_parser("query", help="run an analytics query on the warehouse")
    q.add_argument("warehouse")
    q.add_argument(
        "name", choices=["q1", "q2", "q3", "q4", "q5", "q6", "q7"]
    )
    q.add_argument("--anio", type=int, default=2024)
    q.add_argument("--mes-corte", type=int, default=12)
    q.add_argument("--sector", default="")
    q.add_argument("--anio-fin", type=int, default=None)
    q.add_argument("--top", type=int, default=None)

    args = parser.parse_args(argv)

    if args.cmd == "sniff":
        from .sources.csv_source import sniff_csv

        # pure-driver metadata probe: no Spark session needed
        for line in sniff_csv(args.raw_csv):
            print(line)
        return

    spark = get_spark("gasto-engine-cli")

    if args.cmd == "transform":
        from pathlib import Path

        from .sources.csv_source import discover_year_files

        raw = Path(args.raw_csv)
        files = (
            discover_year_files(raw, args.years or None)
            if raw.is_dir()
            else [raw]
        )
        if not files:
            raise SystemExit(f"no matching yearly CSVs under {raw}")
        mef_pipeline.transform(
            spark,
            [str(f) for f in files],
            args.out_dir,
            overwrite=args.overwrite,
        )
        print(f"normalized {len(files)} file(s) → {args.out_dir}")
    elif args.cmd == "inspect":
        from .sources.csv_source import read_monthly_csv

        read_monthly_csv(spark, args.raw_csv).show(args.rows, truncate=40)
    elif args.cmd == "load":
        if args.years or args.validate:
            # a filtered or validated frame is not the file set the load
            # ledger keys on: load it without the ledger
            normalized = mef_pipeline.read_warehouse(
                spark, args.normalized_dir, "normalized"
            )
            if args.years:
                # ANO_EJE is the normalized zone's partition column — this
                # filter prunes to the requested years' files
                from pyspark.sql import functions as F

                normalized = normalized.filter(
                    F.col("ANO_EJE").isin(args.years)
                )
            if args.validate:
                from .operators import expectations as X

                row = X.assert_ok(normalized, X.standard_monthly_checks())
                print(f"validated {row.n_rows} rows: all checks pass")
            fact = mef_pipeline.load_frame(spark, normalized, args.warehouse)
        else:
            # the whole normalized dir: a replay stops at the load ledger
            fact = mef_pipeline.load(spark, args.normalized_dir, args.warehouse)
        print(f"fact rows: {fact.count()} → {args.warehouse}")
    elif args.cmd == "corpus-build":
        from .plans.corpus_pipeline import build_corpus

        report = build_corpus(
            spark, args.sf_dir, args.out_dir, lang=args.lang,
            val_fraction=args.val_fraction,
            test_fraction=args.test_fraction,
            dsir_target_sources=(
                tuple(args.dsir_target_sources)
                if args.dsir_target_sources
                else None
            ),
            dsir_keep_frac=args.dsir_keep_frac,
            dsir_sample_permille=args.dsir_sample_permille,
        )
        for k, v in report.items():
            print(f"{k}: {v}")
    elif args.cmd == "ann-build-index":
        from .operators import model_store, similarity
        from .sources.tables import load_table

        emb = load_table(spark, args.sf_dir, "embeddings")
        cents = similarity.ivf_centroids(
            emb, "vec_id", "embedding", args.n_centroids
        )
        pairs = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in cents
        ]
        cb = similarity.sampled_codebook(
            emb, "vec_id", "embedding", args.m, args.n_codes
        )
        base, _ = zones.build_root(args.index_dir, "ann_index_")
        model_store.save_model(
            spark, f"{base}/centroids", "ivf_centroids",
            [[c, v] for c, v in pairs],
        )
        model_store.save_pq_codebook(spark, f"{base}/codebook", cb)
        # self-describing index: serve-side geometry comes from the
        # manifest, never from CLI flags that could drift from the build
        model_store.save_model(
            spark, f"{base}/manifest", "ann_index_manifest",
            {"m": args.m, "n_codes": args.n_codes,
             "n_centroids": args.n_centroids},
        )
        assigned, codes = similarity.ivf_pq_build_index(
            emb, m=args.m, n_codes=args.n_codes,
            codebook=cb, centroids=pairs,
        )
        assigned.write.mode("overwrite").parquet(f"{base}/index_assigned")
        codes.write.mode("overwrite").parquet(f"{base}/index_codes")
        n = spark.read.parquet(f"{base}/index_assigned").count()
        print(f"indexed {n} vectors → {base}")
    elif args.cmd == "ann-append-index":
        from pyspark.sql import functions as F

        from .operators import model_store, similarity
        from .sources.tables import load_table

        emb = load_table(spark, args.sf_dir, "embeddings")
        delta = emb.filter(F.col("vec_id") >= args.from_id)
        base = args.index_dir
        _refuse_reingest(spark, [base], delta.select("vec_id"), "neighbor_id")
        pairs_payload, _ = model_store.load_model(
            spark, f"{base}/centroids", "ivf_centroids"
        )
        pairs = [
            (int(c), [float(x) for x in v]) for c, v in pairs_payload
        ]
        cb = model_store.load_pq_codebook(spark, f"{base}/codebook")
        assigned, codes = similarity.ivf_pq_index_append(delta, cb, pairs)
        assigned.write.mode("append").parquet(f"{base}/index_assigned")
        codes.write.mode("append").parquet(f"{base}/index_codes")
        n = delta.count()
        total = spark.read.parquet(f"{base}/index_assigned").count()
        print(f"appended {n} vectors → {base} (index now {total})")
        # appends never re-measure the manifest's recall ladder — flag
        # the moment the index outgrows the measurement so the next
        # --target-recall serve isn't the first place it surfaces
        try:
            manifest, _ = model_store.load_model(spark, f"{base}/manifest")
        except Exception:
            manifest = {}
        anchor = manifest.get("ladder_index_n")
        stale = anchor and total > anchor * (
            1.0 + similarity.LADDER_MAX_GROWTH_FRAC
        )
        if args.remeasure_ladder:
            prev = manifest.get("recall_ladder")
            # no existing ladder (e.g. a bare ann-build-index manifest):
            # BOOTSTRAP at the default rungs rather than silently
            # no-oping with --target-recall still blocked
            nprobes = (
                tuple(int(p["nprobe"]) for p in prev)
                if prev
                else (2, 4, 8, 16)
            )
            manifest = similarity.remeasure_manifest_ladder(
                spark, emb, emb.filter(F.col("vec_id") < 10), base,
                nprobes=nprobes,
            )
            print(
                f"{'re-measured' if prev else 'bootstrapped'} the recall "
                f"ladder on {total} vectors (nprobes {list(nprobes)}) — "
                "--target-recall serving stays unblocked"
            )
        elif stale:
            print(
                f"NOTE: the manifest's recall ladder was measured at "
                f"{anchor} vectors; the index now holds {total} — "
                "--target-recall serving will refuse this stale ladder. "
                f"Re-run with --remeasure-ladder, or: python "
                f"tools/ann_knob_sweep.py <sf_dir> --write-manifest {base}"
            )
    elif args.cmd == "ann-search":
        from pyspark.sql import functions as F

        from .operators import model_store, similarity
        from .sources.tables import load_table

        emb = load_table(spark, args.sf_dir, "embeddings")
        base = args.index_dir
        manifest, _ = model_store.load_model(
            spark, f"{base}/manifest", "ann_index_manifest"
        )
        pairs_payload, _ = model_store.load_model(
            spark, f"{base}/centroids", "ivf_centroids"
        )
        pairs = [
            (int(c), [float(x) for x in v]) for c, v in pairs_payload
        ]
        cb = model_store.load_pq_codebook(spark, f"{base}/codebook")
        nprobe, k, rerank = _resolve_ann_knobs(
            spark, base, manifest, args.k, args.rerank, args.nprobe,
            args.target_recall,
        )
        tomb = zones.read_tombstones(
            spark, [base], similarity.ANN_TOMBSTONES_SCHEMA
        )
        if tomb is not None:
            print(
                "index has pending tombstones — serving subtracts them "
                "exactly (run ann-compact to fold them out physically)"
            )
        result = similarity.ivf_pq_search(
            emb,
            emb.filter(F.col("vec_id").isin(*args.query_ids)),
            k=k,
            nprobe=nprobe,
            m=manifest["m"],
            n_codes=manifest["n_codes"],
            rerank=rerank,
            codebook=cb,
            centroids=pairs,
            index=(
                spark.read.parquet(f"{base}/index_assigned"),
                spark.read.parquet(f"{base}/index_codes"),
            ),
            tombstones=tomb,
        )
        result.orderBy("query_id", "rk").show(
            k * len(args.query_ids), truncate=False
        )
    elif args.cmd == "hybrid-search":
        from pyspark.sql import functions as F

        from .operators import model_store, similarity
        from .operators.retrieval import bm25_serve
        from .sources.tables import load_table

        lex = bm25_serve(
            spark,
            _index_roots(args.text_index_dir, "postings", "text index"),
            args.terms,
            k=args.component_k,
            max_df_frac=args.max_df_frac,
        ).select(
            F.lit(args.query_id).cast("long").alias("query_id"),
            "doc_id",
            "rk",
        )
        base = args.ann_index_dir
        manifest, _ = model_store.load_model(spark, f"{base}/manifest")
        pairs_payload, _ = model_store.load_model(
            spark, f"{base}/centroids", "ivf_centroids"
        )
        pairs = [
            (int(c), [float(x) for x in v]) for c, v in pairs_payload
        ]
        cb = model_store.load_pq_codebook(spark, f"{base}/codebook")
        emb = load_table(spark, args.sf_dir, "embeddings")
        nprobe, dense_k, rerank = _resolve_ann_knobs(
            spark, base, manifest, args.component_k, args.rerank,
            args.nprobe, args.target_recall,
        )
        dense = similarity.ivf_pq_search(
            emb,
            emb.filter(F.col("vec_id") == args.query_id),
            k=dense_k,
            nprobe=nprobe,
            m=manifest["m"],
            n_codes=manifest["n_codes"],
            rerank=rerank,
            codebook=cb,
            centroids=pairs,
            index=(
                spark.read.parquet(f"{base}/index_assigned"),
                spark.read.parquet(f"{base}/index_codes"),
            ),
            tombstones=zones.read_tombstones(
                spark, [base], similarity.ANN_TOMBSTONES_SCHEMA
            ),
        ).select(
            "query_id", F.col("neighbor_id").alias("doc_id"), "rk"
        )
        fused = similarity.rrf_fuse(
            [lex, dense], k_const=60, topk=args.k, id_col="doc_id"
        )
        for r in fused.orderBy("rk").collect():
            print(
                f"{r.rk:3d}  doc {r.doc_id}  rrf {r.rrf_score}  "
                f"lists {r.n_lists}"
            )
    elif args.cmd == "ann-delete":
        from .operators import similarity

        ids = _delete_request(spark, args, args.vec_ids)
        n = similarity.delete_from_ann_index(spark, args.index_dir, ids)
        print(
            f"tombstoned {n} vectors (search subtracts them now; the "
            "next ann-compact folds them out physically)"
        )
    elif args.cmd == "ann-compact":
        from .operators import model_store, similarity

        out = similarity.compact_ann_index(
            spark, args.index_dir, args.out_dir
        )
        n = spark.read.parquet(f"{out}/index_assigned").count()
        print(f"compacted index → {out} ({n} vectors, no tombstones)")
        # the manifest (ladder and its ladder_index_n anchor) is copied
        # verbatim — a mass takedown leaves its measured recalls
        # describing a larger corpus.  Shrink is the conservative
        # direction (resolve_nprobe only warns), but say so here where
        # the fold happened rather than at the first --target-recall
        # serve (the ann-append-index stale-NOTE discipline).
        try:
            manifest, _ = model_store.load_model(spark, f"{out}/manifest")
        except Exception:
            manifest = {}
        anchor = manifest.get("ladder_index_n")
        if anchor and n < anchor * (
            1.0 - similarity.LADDER_MAX_GROWTH_FRAC
        ):
            print(
                f"NOTE: the manifest's recall ladder was measured at "
                f"{anchor} vectors; the compacted index holds {n} — "
                "the measured recalls are now a conservative estimate. "
                "Re-measure with tools/ann_knob_sweep.py "
                f"--write-manifest {out} to serve on current numbers."
            )
    elif args.cmd == "text-index-build":
        from .operators.retrieval import build_bm25_index

        base = _layout(zones.base_root, args.index_dir, "postings")
        docs = spark.read.parquet(args.docs_parquet)
        root = build_bm25_index(spark, docs, root=base)
        n = spark.read.parquet(f"{root}/doclen").count()
        print(f"indexed {n} documents → {root}")
    elif args.cmd == "text-index-append":
        from .operators.retrieval import build_bm25_index

        delta = _layout(zones.delta_root, args.index_dir, "postings")
        docs = spark.read.parquet(args.docs_parquet)
        _refuse_reingest(
            spark,
            _index_roots(args.index_dir, "postings", "text index"),
            docs,
            "doc_id",
        )
        root = build_bm25_index(spark, docs, root=delta)
        n = spark.read.parquet(f"{root}/doclen").count()
        print(f"appended {n} documents → {root}")
    elif args.cmd == "text-search":
        from .operators.retrieval import bm25_serve, phrase_serve

        roots = _index_roots(args.index_dir, "postings", "text index")
        if args.phrase:
            if args.max_df_frac is not None:
                # dropping a term from a PHRASE breaks its adjacency
                # semantics, so the guard can't apply — warn instead
                # of silently ignoring the knob (r14 review)
                print(
                    "warning: --max-df-frac does not apply to --phrase "
                    "(a phrase term cannot be dropped) — ignored"
                )
            rows = phrase_serve(spark, roots, args.terms, k=args.k)
            for r in rows.collect():
                print(f"{r.rk:3d}  doc {r.doc_id}  occurrences {r.n_occur}")
        else:
            rows = bm25_serve(
                spark,
                roots,
                args.terms,
                k=args.k,
                max_df_frac=args.max_df_frac,
            )
            for r in rows.collect():
                print(f"{r.rk:3d}  doc {r.doc_id}  score_q {r.bm25_q}")
    elif args.cmd == "text-index-compact":
        from .operators.retrieval import compact_bm25_index

        roots = _index_roots(args.index_dir, "postings", "text index")
        # out_dir inside index_dir would add a bare root beside base/
        # (an ambiguous index); compact_bm25_index guards the roots
        _layout(zones.check_disjoint, args.out_dir, [args.index_dir])
        out = compact_bm25_index(spark, roots, args.out_dir)
        print(f"compacted {len(roots)} roots → {out}")
    elif args.cmd == "text-index-delete":
        from .operators.retrieval import delete_from_bm25_index

        roots = _index_roots(args.index_dir, "postings", "text index")
        n = delete_from_bm25_index(
            spark, roots, _delete_request(spark, args, args.doc_ids)
        )
        print(
            f"tombstoned {n} documents (search subtracts them now; "
            "the next text-index-compact folds them out physically)"
        )
    elif args.cmd == "substring-index-build":
        from .operators.trigram import build_trigram_index

        base = _layout(zones.base_root, args.index_dir, "postings")
        docs = spark.read.parquet(args.docs_parquet)
        root = build_trigram_index(spark, docs, root=base)
        n = spark.read.parquet(f"{root}/stats").collect()[0]["n_docs"]
        print(f"trigram-indexed {n} documents → {root}")
    elif args.cmd == "substring-index-append":
        from .operators.trigram import build_trigram_index

        delta = _layout(zones.delta_root, args.index_dir, "postings")
        docs = spark.read.parquet(args.docs_parquet)
        _refuse_reingest(
            spark,
            _index_roots(args.index_dir, "postings", "trigram index"),
            docs,
            "doc_id",
        )
        root = build_trigram_index(spark, docs, root=delta)
        n = spark.read.parquet(f"{root}/stats").collect()[0]["n_docs"]
        print(f"trigram-indexed {n} documents → {root}")
    elif args.cmd == "substring-search":
        from .operators.trigram import trigram_serve

        roots = _index_roots(args.index_dir, "postings", "trigram index")
        docs = spark.read.parquet(args.docs_parquet)
        try:
            hits = trigram_serve(spark, roots, args.needle, docs)
        except ValueError as exc:
            raise SystemExit(str(exc)) from exc
        ids = [r.doc_id for r in hits.limit(args.limit + 1).collect()]
        more = "+" if len(ids) > args.limit else ""
        print(
            f"{min(len(ids), args.limit)}{more} matching document(s): "
            f"{ids[: args.limit]}"
        )
    elif args.cmd == "substring-index-delete":
        from .operators.trigram import delete_from_trigram_index

        roots = _index_roots(args.index_dir, "postings", "trigram index")
        n = delete_from_trigram_index(
            spark, roots, _delete_request(spark, args, args.doc_ids)
        )
        print(
            f"tombstoned {n} documents (search anti-joins them now)"
        )
    elif args.cmd == "agg-zone-build":
        from .operators.aggzone import KMV_K, build_agg_zone

        base = _layout(zones.base_root, args.agg_dir, "spec.json")
        df = spark.read.parquet(args.input_parquet)
        root = build_agg_zone(
            spark,
            df,
            keys=_split_cols(args.keys),
            sums=_split_cols(args.sums),
            mins=_split_cols(args.mins),
            maxs=_split_cols(args.maxs),
            kmvs=_split_cols(args.kmvs),
            k=args.k if args.k is not None else KMV_K,
            root=base,
        )
        n = spark.read.parquet(f"{root}/partials").count()
        print(f"materialized {n} group partials → {root}")
    elif args.cmd == "agg-zone-append":
        from .operators.aggzone import build_agg_zone, zone_spec

        delta = _layout(zones.delta_root, args.agg_dir, "spec.json")
        # the append derives its spec from the base (the first root),
        # so zones can never diverge
        base = _index_roots(args.agg_dir, "spec.json", "aggregate zones")[0]
        spec = zone_spec(base)
        df = spark.read.parquet(args.input_parquet)
        root = build_agg_zone(spark, df, root=delta, **spec)
        n = spark.read.parquet(f"{root}/partials").count()
        print(f"appended {n} group partials → {root}")
    elif args.cmd == "agg-zone-serve":
        from .operators.aggzone import serve_agg

        roots = _index_roots(args.agg_dir, "spec.json", "aggregate zones")
        out = serve_agg(spark, roots)
        if args.out:
            out.write.parquet(args.out)
            print(
                f"served {len(roots)} zone root(s) → {args.out}"
            )
        else:
            cols = out.columns
            print("\t".join(cols))
            for r in out.limit(args.limit).collect():
                print("\t".join(str(r[c]) for c in cols))
    elif args.cmd == "agg-zone-compact":
        from .operators.aggzone import compact_agg_zones

        roots = _index_roots(args.agg_dir, "spec.json", "aggregate zones")
        # out_dir inside agg_dir would add a bare zone beside base/ (the
        # ambiguous layout); compact_agg_zones guards the roots
        _layout(zones.check_disjoint, args.out_dir, [args.agg_dir])
        out = compact_agg_zones(spark, roots, args.out_dir)
        print(f"compacted {len(roots)} zone root(s) → {out}")
    elif args.cmd == "table-stats":
        from .sources.manifest import build_stats_manifest

        out = build_stats_manifest(
            spark,
            args.table_dir,
            args.columns,
            blooms=_split_cols(args.blooms),
        )
        n = spark.read.parquet(out).count()
        print(f"collected stats for {n} file(s) → {out}")
    elif args.cmd == "table-scan":
        from .sources.manifest import (
            point_lookup,
            pruned_scan,
            select_files,
            select_files_eq,
        )

        def typed(bound):
            if bound is None:
                return None
            for cast in (int, float):
                try:
                    return cast(bound)
                except ValueError:
                    continue
            return bound

        if args.equals is not None and (
            args.lower is not None or args.upper is not None
        ):
            raise SystemExit(
                "table-scan: --equals is mutually exclusive with "
                "--lower/--upper"
            )
        if args.equals is not None:
            v = typed(args.equals)
            kept, total = select_files_eq(
                spark, args.table_dir, args.column, v
            )
            df = point_lookup(spark, args.table_dir, args.column, v)
        else:
            lo, hi = typed(args.lower), typed(args.upper)
            kept, total = select_files(
                spark, args.table_dir, args.column, lo, hi
            )
            df = pruned_scan(spark, args.table_dir, args.column, lo, hi)
        if args.out:
            df.write.parquet(args.out)
            print(
                f"scanned {len(kept)}/{total} file(s) → {args.out}"
            )
        else:
            print(
                f"scanned {len(kept)}/{total} file(s), "
                f"{df.count()} matching row(s)"
            )
    elif args.cmd == "drift-freeze":
        from .operators.textstats import token_distribution
        from .sources.tables import load_table

        docs = load_table(spark, args.sf_dir, "documents")
        token_distribution(docs, top_v=args.top_v).write.mode(
            "overwrite"
        ).parquet(args.ref_dir)
        n = spark.read.parquet(args.ref_dir).count()
        print(f"froze {n}-token reference distribution → {args.ref_dir}")
    elif args.cmd == "drift-score":
        from .operators.textstats import chi2_against_reference
        from .sources.tables import load_table

        docs = load_table(spark, args.sf_dir, "documents")
        ref = spark.read.parquet(args.ref_dir)
        chi2_against_reference(docs, ref).show(truncate=False)
    elif args.cmd == "classifier-eval":
        from pyspark.sql import functions as F

        from .operators import classifier
        from .plans.corpus_pipeline import QUALITY_FEATURES

        profile = spark.read.parquet(args.profile_dir)
        label_col = args.label_col
        if label_col is None:
            label_col = "label"
            profile = profile.withColumn(
                "label", (F.col("lang") == args.label_lang).cast("int")
            )
        # each fold's trainer re-reads the frame n_iters times — cut it
        profile = pin(
            profile.select("doc_id", label_col, *QUALITY_FEATURES),
            eager=True,
        )
        folds = classifier.kfold_eval(
            profile,
            list(QUALITY_FEATURES),
            label_col=label_col,
            k=args.k,
            n_iters=args.n_iters,
            lr=args.lr,
        )
        for row in folds:
            print(
                f"fold {row['fold']}: n_train={row['n_train']} "
                f"n_eval={row['n_eval']} auc={row['auc']} "
                f"logloss={row['logloss']} "
                f"(zero-model {row['logloss_zero']})"
            )
        mean_auc = sum(r["auc"] for r in folds) / len(folds)
        mean_ll = sum(r["logloss"] for r in folds) / len(folds)
        print(
            f"mean: auc={round(mean_auc, 4)} logloss={round(mean_ll, 4)} "
            f"over k={args.k} folds"
        )
    elif args.cmd == "sql":
        mef_pipeline.register_views(spark, args.warehouse)
        spark.sql(args.statement).show(args.rows, truncate=False)
    elif args.cmd == "refresh-agg":
        mef_pipeline.materialize_agg_mensual(
            spark, args.warehouse, args.agg_path, years=args.years or None
        )
        scope = f"years {args.years}" if args.years else "full rebuild"
        print(f"aggregate refreshed ({scope}) → {args.agg_path}")
    else:
        source = mef_pipeline.register_views(spark, args.warehouse)
        runners = {
            "q1": lambda: Q.q1_ytd_by_sector(source, args.anio, args.mes_corte),
            "q2": lambda: Q.q2_top_ejecutoras(source, args.anio, args.top or 5),
            "q3": lambda: Q.q3_share_of_total(
                source, args.anio, args.mes_corte, args.sector
            ),
            "q4": lambda: Q.q4_backlog(source, args.anio, args.mes_corte),
            "q5": lambda: Q.q5_quarterly_evolution(
                source, args.anio, args.anio_fin or args.anio
            ),
            "q6": lambda: Q.q6_rollup_year_sector(source),
            "q7": lambda: Q.q7_topn_year(source, args.anio, args.top or 10),
        }
        runners[args.name]().show(50, truncate=False)


if __name__ == "__main__":
    main()
