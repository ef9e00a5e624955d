"""End-to-end corpus build lifecycle (plans/corpus_pipeline.py)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.plans.corpus_pipeline import (
    build_corpus,
)
from proyecto_gasto_publico_etl_per__spark.plans import driver_queries

from conftest import SF_SMOKE


def test_build_corpus_stages_consistent(spark, tmp_path):
    out = str(tmp_path / "corpus")
    report = build_corpus(spark, SF_SMOKE, out)

    # clean stage reproduces the declared corpus_clean_final exactly
    declared = driver_queries.all_queries()["corpus_clean_final"]
    want = {r["doc_id"] for r in declared(spark, SF_SMOKE).collect()}
    got = {
        r["doc_id"] for r in spark.read.parquet(f"{out}/clean").collect()
    }
    assert got == want
    assert report["n_docs_clean"] == len(want)

    # splits: partition dirs exist, proportions accounted
    splits = spark.read.parquet(f"{out}/splits")
    assert (
        report["n_train"] + report["n_val"] + report["n_test"]
        == report["n_docs_clean"]
    )
    assert (Path(out) / "splits" / "split=train").exists()

    # leakage check: every near-dup cluster lives in ONE split
    from proyecto_gasto_publico_etl_per__spark.operators import dedup
    from proyecto_gasto_publico_etl_per__spark.plans.extension_queries import (
        JACCARD_T,
        NGRAM_MAX_DF,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    clusters = dedup.cluster_duplicates(
        dedup.ngram_jaccard_pairs(
            load_table(spark, SF_SMOKE, "documents"),
            threshold=JACCARD_T,
            max_df=NGRAM_MAX_DF,
        )
    )
    joined = splits.join(clusters, "doc_id")
    multi = (
        joined.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
    )
    assert multi.count() == 0

    # packed: every chunk rides a sequence; token totals line up
    packed = spark.read.parquet(f"{out}/packed")
    assert packed.where(F.col("seq_id").isNull()).count() == 0
    assert report["n_chunks"] == packed.count()
    assert report["train_tokens"] > 0

    # report zone round-trips
    rep = spark.read.parquet(f"{out}/report").collect()[0]
    assert rep["n_docs_in"] == report["n_docs_in"]


def test_build_corpus_mixture_controls(spark, tmp_path):
    """source_cap + language token allocations applied to the train
    split only: selection persists to selected/, caps hold, eval splits
    untouched, packed sequences come only from selected docs."""
    out = str(tmp_path / "mix")
    report = build_corpus(
        spark, SF_SMOKE, out,
        source_cap_n=30,
        mixture_allocations={"en": 3000},
        val_fraction=0.05, test_fraction=0.05,
    )
    assert report["n_train_selected"] <= report["n_train"]
    sel = spark.read.parquet(f"{out}/selected")
    # per-source cap holds on the selection
    per_source = sel.groupBy("source").count().collect()
    assert all(r["count"] <= 30 for r in per_source)
    # only english survives the allocation map
    assert {r.lang for r in sel.select("lang").distinct().collect()} == {"en"}
    # token budget holds (selection's token total <= allocation)
    split = spark.read.parquet(f"{out}/splits")
    toks = (
        split.join(sel.select("doc_id"), "doc_id", "left_semi")
        .selectExpr("sum(n_tokens) AS t")
        .collect()[0]["t"]
    )
    assert toks <= 3000
    # eval splits not resampled
    assert split.where("split = 'val'").count() == report["n_val"]
    # packed chunks only from selected docs
    packed_docs = {
        r.doc for r in spark.read.parquet(f"{out}/packed").select("doc").distinct().collect()
    }
    sel_ids = {r.doc_id for r in sel.collect()}
    assert packed_docs <= sel_ids


def test_dsir_threshold_select(spark):
    """Threshold selection keeps the top keep_frac by weight (full
    sample -> exact threshold), ties included."""
    from proyecto_gasto_publico_etl_per__spark.operators.curation import (
        dsir_threshold_select,
    )

    w = spark.createDataFrame(
        [(i, 10, i * 100) for i in range(1, 11)],
        "doc_id LONG, n_feats LONG, weight_micro LONG",
    )
    kept = {
        r.doc_id for r in dsir_threshold_select(w, 0.3).collect()
    }
    assert kept == {8, 9, 10}  # top 3 of 10 by weight
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dsir_threshold_select(w, 0.0)
    with _pytest.raises(ValueError):
        dsir_threshold_select(w, 0.5, sample_permille=0)


def test_dsir_threshold_select_bounded_default(spark):
    """Round-6 verdict #4: the DEFAULT path bounds the driver-side
    sample — exact while the corpus fits max_sample_rows (small-SF
    semantics unchanged), a proportional hash sample above it (no
    full-corpus collect by default at any scale)."""
    from pyspark.sql import functions as F

    from proyecto_gasto_publico_etl_per__spark.operators.curation import (
        _dsir_auto_ppm,
        dsir_threshold_select,
    )

    # sizing rule: exact under the budget, proportionally bounded above,
    # floored at 1 ppm (never a degenerate 0 = empty sample)
    assert _dsir_auto_ppm(100, 262_144) == 1_000_000
    assert _dsir_auto_ppm(262_144, 262_144) == 1_000_000
    for n in (262_145, 10**6, 10**9, 10**11):
        p = _dsir_auto_ppm(n, 262_144)
        assert 1 <= p < 1_000_000
        assert n * p / 1_000_000 <= 262_144  # expected sample in budget

    n = 2000
    w = spark.createDataFrame(
        [(i, 1, i) for i in range(n)],
        "doc_id LONG, n_feats LONG, weight_micro LONG",
    )
    # corpus over the budget: the realized hash sample the driver would
    # collect (same md5 bucket expression the operator uses) is bounded
    p = _dsir_auto_ppm(n, 200)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dsir|"), F.col("doc_id").cast("string"))),
                1, 8,
            ), 16, 10,
        ).cast("long") % 1_000_000
    )
    realized = w.where(bucket < p).count()
    assert realized <= 2 * 200
    # sampled threshold still lands the selection near keep_frac
    kept = dsir_threshold_select(w, 0.5, max_sample_rows=200).count()
    assert 0.35 * n <= kept <= 0.65 * n
    # corpus under the budget: default == the exact full-sample path
    small = dsir_threshold_select(w, 0.3)  # n=2000 <= 262_144 default
    exact = dsir_threshold_select(w, 0.3, sample_permille=1000)
    assert {r.doc_id for r in small.collect()} == {
        r.doc_id for r in exact.collect()
    }
    # explicit permille=1000 stays the exact opt-in even over the budget
    opt_in = dsir_threshold_select(w, 0.5, sample_permille=1000,
                                   max_sample_rows=1)
    assert {r.doc_id for r in opt_in.collect()} == set(range(1000, 2000))
    # degenerate inputs: empty corpus keeps everything (no crash on the
    # auto count), bad budget rejected loudly
    empty = w.where(F.lit(False))
    assert dsir_threshold_select(empty, 0.5).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_sample_rows"):
        dsir_threshold_select(w, 0.5, max_sample_rows=0)


def test_build_corpus_dsir_selection(spark, tmp_path):
    """DSIR resampling on the train split: target-source docs always
    survive, raw docs are thinned to ~keep_frac, eval splits untouched."""
    out = str(tmp_path / "dsir")
    targets = ("src0", "src1")
    report = build_corpus(
        spark, SF_SMOKE, out,
        dsir_target_sources=targets, dsir_keep_frac=0.4,
        val_fraction=0.05, test_fraction=0.05,
    )
    assert report["n_train_selected"] <= report["n_train"]
    split = spark.read.parquet(f"{out}/splits")
    train = split.where("split = 'train'")
    packed_docs = {
        r.doc
        for r in spark.read.parquet(f"{out}/packed")
        .select("doc")
        .distinct()
        .collect()
    }
    # every target-source train doc that produced chunks is packed;
    # more importantly NO non-train doc is packed
    train_ids = {r.doc_id for r in train.select("doc_id").collect()}
    assert packed_docs <= train_ids
    # raw-pool thinning really happened: packed raw docs < raw train docs
    raw_train = train.where(~F.col("source").isin(*targets))
    n_raw_train = raw_train.count()
    n_raw_packed = len(
        packed_docs
        & {r.doc_id for r in raw_train.select("doc_id").collect()}
    )
    if n_raw_train >= 5:
        assert n_raw_packed < n_raw_train
    # eval splits not resampled
    assert split.where("split = 'val'").count() == report["n_val"]


def test_cli_corpus_build_with_dsir(spark, tmp_path, capsys):
    """corpus-build --dsir-target-source/--dsir-keep-frac end-to-end
    through the CLI: the train split is resampled toward the target."""
    from proyecto_gasto_publico_etl_per__spark import cli

    out = str(tmp_path / "corpus")
    cli.main(
        [
            "corpus-build", SF_SMOKE, out,
            "--dsir-target-source", "src0",
            "--dsir-target-source", "src1",
            "--dsir-keep-frac", "0.4",
        ]
    )
    printed = capsys.readouterr().out
    assert "n_train_selected:" in printed
    report = spark.read.parquet(f"{out}/report").collect()[0]
    assert report.n_train_selected <= report.n_train


def test_cli_ann_index_lifecycle(spark, tmp_path, capsys):
    """ann-build-index → ann-search through the CLI: build persists the
    model-store artifacts + index zones with a self-describing geometry
    manifest; search serves from them and matches the library call."""
    from pyspark.sql import functions as F

    from proyecto_gasto_publico_etl_per__spark import cli
    from proyecto_gasto_publico_etl_per__spark.operators import (
        model_store,
        similarity,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    idx = str(tmp_path / "annidx")
    cli.main(
        ["ann-build-index", SF_SMOKE, idx, "--n-centroids", "8",
         "--m", "4", "--n-codes", "8"]
    )
    assert "indexed" in capsys.readouterr().out
    manifest, _ = model_store.load_model(
        spark, f"{idx}/manifest", "ann_index_manifest"
    )
    assert manifest == {"m": 4, "n_codes": 8, "n_centroids": 8}

    cli.main(["ann-search", SF_SMOKE, idx, "3", "7", "--k", "3"])
    printed = capsys.readouterr().out
    # direct library call with the same persisted artifacts must agree
    emb = load_table(spark, SF_SMOKE, "embeddings")
    pairs_payload, _ = model_store.load_model(
        spark, f"{idx}/centroids", "ivf_centroids"
    )
    pairs = [(int(c), [float(x) for x in v]) for c, v in pairs_payload]
    cb = model_store.load_pq_codebook(spark, f"{idx}/codebook")
    expect = similarity.ivf_pq_search(
        emb, emb.filter(F.col("vec_id").isin(3, 7)), k=3, nprobe=4,
        m=4, n_codes=8, rerank=8, codebook=cb, centroids=pairs,
        index=(
            spark.read.parquet(f"{idx}/index_assigned"),
            spark.read.parquet(f"{idx}/index_codes"),
        ),
    ).collect()
    assert expect, "library search returned nothing"
    for r in expect:
        assert str(r.neighbor_id) in printed


def test_cli_ann_append_index(spark, tmp_path, capsys):
    """ann-append-index through the CLI: build over a truncated corpus,
    append the tail with the frozen artifacts, and the merged zones
    hold every vector exactly once — identical to a full build."""
    from pyspark.sql import functions as F

    from proyecto_gasto_publico_etl_per__spark import cli
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base_dir = tmp_path / "sf_base"
    base_dir.mkdir()
    emb.filter(F.col("vec_id") < 400).write.parquet(
        str(base_dir / "embeddings.parquet")
    )
    idx = str(tmp_path / "annidx")
    cli.main(
        ["ann-build-index", str(base_dir), idx, "--n-centroids", "8",
         "--m", "4", "--n-codes", "8"]
    )
    capsys.readouterr()
    cli.main(["ann-append-index", SF_SMOKE, idx, "--from-id", "400"])
    out = capsys.readouterr().out
    assert "appended" in out
    indexed = spark.read.parquet(f"{idx}/index_assigned")
    assert indexed.count() == emb.count()
    assert indexed.select("neighbor_id").distinct().count() == emb.count()
    cli.main(["ann-search", SF_SMOKE, idx, "3", "--k", "3"])
    assert capsys.readouterr().out.strip()


def test_cli_drift_lifecycle(spark, tmp_path, capsys):
    """drift-freeze → drift-score through the CLI: freeze persists the
    reference token distribution; scoring the SAME corpus against its
    own reference is identically zero (o ≡ e term-for-term), and the
    printed row matches the library call."""
    from proyecto_gasto_publico_etl_per__spark import cli
    from proyecto_gasto_publico_etl_per__spark.operators.textstats import (
        chi2_against_reference,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    ref = str(tmp_path / "driftref")
    cli.main(["drift-freeze", SF_SMOKE, ref, "--top-v", "50"])
    assert "reference distribution" in capsys.readouterr().out

    cli.main(["drift-score", SF_SMOKE, ref])
    printed = capsys.readouterr().out
    docs = load_table(spark, SF_SMOKE, "documents")
    row = chi2_against_reference(
        docs, spark.read.parquet(ref)
    ).collect()[0]
    assert row["chi2_micro"] == 0  # self-score is exactly zero
    assert str(row["n_tokens"]) in printed and "|0" in printed


def test_cli_ann_search_target_recall(spark, tmp_path, capsys):
    """The full autotune lifecycle through public surfaces: CLI index
    build → knob-sweep tool measures the ladder into the manifest
    (preserving the CLI's manifest kind) → ann-search --target-recall
    resolves nprobe from measurement.  Without a ladder the flag fails
    loudly with the remedy."""
    import sys as _sys

    import pytest

    from proyecto_gasto_publico_etl_per__spark import cli
    from proyecto_gasto_publico_etl_per__spark.operators import (
        model_store,
        similarity,
    )

    idx = str(tmp_path / "annidx2")
    cli.main(
        ["ann-build-index", SF_SMOKE, idx, "--n-centroids", "8",
         "--m", "4", "--n-codes", "8"]
    )
    capsys.readouterr()
    with pytest.raises(SystemExit, match="recall_ladder"):
        cli.main(
            ["ann-search", SF_SMOKE, idx, "3", "--k", "3",
             "--target-recall", "0.5"]
        )

    # measure the ladder with the sweep tool's manifest mode
    import tools.ann_knob_sweep as sweep

    old_argv = _sys.argv
    try:
        _sys.argv = [
            "ann_knob_sweep.py", SF_SMOKE, "--grid", "8:1,8:2,8:4",
            "--write-manifest", idx,
        ]
        sweep.main()
    finally:
        _sys.argv = old_argv
    capsys.readouterr()
    manifest, _ = model_store.load_model(
        spark, f"{idx}/manifest", "ann_index_manifest"  # kind preserved
    )
    ladder = manifest["recall_ladder"]
    assert [p["nprobe"] for p in ladder] == [1, 2, 4]
    assert manifest["m"] == 4  # geometry came from the manifest
    assert "rerank" in manifest  # write-back is self-describing

    target = ladder[0]["recall_at_k"]
    knee = similarity.resolve_nprobe(ladder, target)
    cli.main(
        ["ann-search", SF_SMOKE, idx, "3", "--k", "3",
         "--target-recall", str(target)]
    )
    out = capsys.readouterr().out
    assert f"nprobe={knee}" in out
    assert "from the manifest's measured ladder" in out


def test_cli_ann_delete_compact_lifecycle(spark, tmp_path, capsys):
    """ann-delete → ann-search (pending-tombstone note) → append guard
    (re-ingesting a tombstoned id refused) → ann-compact (folded index
    serves with no adjustment; overlap refused) through the CLI."""
    import pytest

    from proyecto_gasto_publico_etl_per__spark import cli

    idx = str(tmp_path / "annidx")
    cli.main(
        ["ann-build-index", SF_SMOKE, idx, "--n-centroids", "8",
         "--m", "4", "--n-codes", "8"]
    )
    capsys.readouterr()

    cli.main(["ann-delete", idx, "21", "35"])
    assert "tombstoned 2 vectors" in capsys.readouterr().out
    # re-delete is a no-op
    cli.main(["ann-delete", idx, "21"])
    assert "tombstoned 0 vectors" in capsys.readouterr().out

    cli.main(["ann-search", SF_SMOKE, idx, "3", "--k", "3"])
    assert "pending tombstones" in capsys.readouterr().out

    # delta (vec_id >= 21) intersects the tombstones: refused
    with pytest.raises(SystemExit, match="tombstoned"):
        cli.main(["ann-append-index", SF_SMOKE, idx, "--from-id", "21"])

    with pytest.raises(ValueError, match="overlap"):
        cli.main(["ann-compact", idx, idx])

    folded = str(tmp_path / "folded")
    cli.main(["ann-compact", idx, folded])
    assert "no tombstones" in capsys.readouterr().out
    cli.main(["ann-search", SF_SMOKE, folded, "3", "--k", "3"])
    out = capsys.readouterr().out
    assert "pending tombstones" not in out
    assert out.strip()


def test_cli_hybrid_search(spark, tmp_path, capsys):
    """hybrid-search through the CLI: BM25 top-k from a persisted text
    index + dense top-k from a persisted ann index for one query id,
    RRF-fused — matches the library composition exactly, and a doc in
    both component lists carries n_lists=2."""
    from pyspark.sql import functions as F

    from proyecto_gasto_publico_etl_per__spark import cli
    from proyecto_gasto_publico_etl_per__spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    pq = tmp_path / "docs.parquet"
    docs.write.parquet(str(pq))
    tidx = str(tmp_path / "tindex")
    cli.main(["text-index-build", str(pq), tidx])
    aidx = str(tmp_path / "annidx")
    cli.main(
        ["ann-build-index", SF_SMOKE, aidx, "--n-centroids", "8",
         "--m", "4", "--n-codes", "8"]
    )
    capsys.readouterr()
    cli.main(
        ["hybrid-search", SF_SMOKE, tidx, aidx, "3", "spark", "hash",
         "--k", "5"]
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 5
    assert all("rrf" in line and "lists" in line for line in out)

    # library twin: same components, same fusion
    from proyecto_gasto_publico_etl_per__spark.operators import (
        model_store,
        similarity,
    )
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        bm25_serve,
    )

    lex = bm25_serve(spark, [f"{tidx}/base"], ("spark", "hash"), k=10).select(
        F.lit(3).cast("long").alias("query_id"), "doc_id", "rk"
    )
    pairs_payload, _ = model_store.load_model(
        spark, f"{aidx}/centroids", "ivf_centroids"
    )
    pairs = [(int(c), [float(x) for x in v]) for c, v in pairs_payload]
    cb = model_store.load_pq_codebook(spark, f"{aidx}/codebook")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    dense = similarity.ivf_pq_search(
        emb, emb.filter(F.col("vec_id") == 3), k=10, nprobe=4, m=4,
        n_codes=8, rerank=8, codebook=cb, centroids=pairs,
        index=(
            spark.read.parquet(f"{aidx}/index_assigned"),
            spark.read.parquet(f"{aidx}/index_codes"),
        ),
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rk")
    want = similarity.rrf_fuse(
        [lex, dense], k_const=60, topk=5, id_col="doc_id"
    ).collect()
    for r in want:
        assert f"doc {r.doc_id}  rrf {r.rrf_score}" in "\n".join(out)
