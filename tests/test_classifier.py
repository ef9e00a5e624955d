"""Logistic-regression trainer vs a pure-Python reference."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from proyecto_gasto_publico_etl_per__spark.operators import classifier


def _ref_train(rows, n_iters, lr, l2=0.0):
    d = len(rows[0][0])
    w, b = [0.0] * d, 0.0
    n = len(rows)
    for _ in range(n_iters):
        gb, gw = 0.0, [0.0] * d
        for x, y in rows:
            z = b + sum(wi * xi for wi, xi in zip(w, x))
            e = 1.0 / (1.0 + math.exp(-z)) - y
            gb += e
            for i, xi in enumerate(x):
                gw[i] += e * xi
        b -= lr * gb / n
        w = [wi - lr * (gi / n + l2 * wi) for wi, gi in zip(w, gw)]
    return w, b


ROWS = [
    # two gaussian-ish blobs, linearly separable on x0+x1
    ([0.1, 0.2], 0), ([0.3, 0.1], 0), ([0.2, 0.4], 0), ([0.0, 0.3], 0),
    ([0.4, 0.2], 0), ([1.1, 1.3], 1), ([1.4, 0.9], 1), ([0.9, 1.2], 1),
    ([1.2, 1.1], 1), ([1.0, 1.4], 1),
]


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [(x[0], x[1], y) for x, y in ROWS], "f0 DOUBLE, f1 DOUBLE, label INT"
    )


def test_logreg_train_matches_reference(frame):
    w, b = classifier.logreg_train(frame, ["f0", "f1"], n_iters=10, lr=0.5)
    rw, rb = _ref_train(ROWS, 10, 0.5)
    assert b == pytest.approx(rb, rel=1e-9)
    for wi, rwi in zip(w, rw):
        assert wi == pytest.approx(rwi, rel=1e-9)


def test_logreg_learns_separable_data(frame):
    w, b = classifier.logreg_train(frame, ["f0", "f1"], n_iters=80, lr=2.0)
    scored = classifier.logreg_score(frame, ["f0", "f1"], w, b)
    rows = scored.collect()
    assert all(
        (r.p_keep > 0.5) == (r.label == 1) for r in rows
    ), [(r.label, round(r.p_keep, 3)) for r in rows]
    # and training reduced the loss vs the zero model
    zero = classifier.logloss(frame, ["f0", "f1"], [0.0, 0.0], 0.0)
    trained = classifier.logloss(frame, ["f0", "f1"], w, b)
    assert trained < zero / 2


def test_l2_shrinks_weights(frame):
    w0, _ = classifier.logreg_train(frame, ["f0", "f1"], n_iters=20, lr=0.5)
    w2, _ = classifier.logreg_train(
        frame, ["f0", "f1"], n_iters=20, lr=0.5, l2=0.5
    )
    assert sum(x * x for x in w2) < sum(x * x for x in w0)


def test_empty_frame_raises(spark):
    empty = spark.createDataFrame([], "f0 DOUBLE, f1 DOUBLE, label INT")
    with pytest.raises(ValueError):
        classifier.logreg_train(empty, ["f0", "f1"])


def test_null_features_refused(spark):
    df = spark.createDataFrame(
        [(0.1, 0.2, 0), (None, 0.3, 1)], "f0 DOUBLE, f1 DOUBLE, label INT"
    )
    with pytest.raises(ValueError, match="NULLs.*f0"):
        classifier.logreg_train(df, ["f0", "f1"])


def test_quality_filter_end_to_end(spark):
    """The fastText-style workflow on real engine features: label docs
    by source affinity, train on quality_stats signals, score the
    corpus.  Pins that textstats features + the trainer compose (the
    localCheckpoint-before-filter discipline included) and that the
    learned filter beats the zero model on held-out loss."""
    from proyecto_gasto_publico_etl_per__spark.operators.textstats import (
        quality_stats,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    feats = ["mean_token_len", "punct_ratio", "upper_ratio", "stopword_ratio"]
    stats = quality_stats(docs).select(
        "doc_id", "lang", *feats
    ).localCheckpoint(eager=True)  # consumer-hazard discipline
    labeled = stats.withColumn(
        "label", (stats.lang == "en").cast("int")
    ).cache()
    train = labeled.where(labeled.doc_id % 5 != 0)
    held = labeled.where(labeled.doc_id % 5 == 0)
    w, b = classifier.logreg_train(train, feats, n_iters=40, lr=1.0)
    zero_loss = classifier.logloss(held, feats, [0.0] * len(feats), 0.0)
    trained_loss = classifier.logloss(held, feats, w, b)
    assert trained_loss < zero_loss
    scored = classifier.logreg_score(held, feats, w, b)
    assert scored.where("p_keep IS NULL").count() == 0


def test_auc_matches_python_reference_with_ties(spark):
    """Mid-rank Mann-Whitney AUC against a brute-force pairwise
    reference (ties count 1/2) on data WITH score ties."""
    rows = [
        (0.9, 1), (0.8, 1), (0.8, 0), (0.5, 1), (0.5, 0), (0.5, 0),
        (0.3, 0), (0.3, 1), (0.1, 0),
    ]
    df = spark.createDataFrame(rows, "p DOUBLE, label INT")
    got = classifier.auc(df, "p", "label")
    pos = [p for p, y in rows if y == 1]
    neg = [p for p, y in rows if y == 0]
    ref = sum(
        1.0 if pp > pn else (0.5 if pp == pn else 0.0)
        for pp in pos
        for pn in neg
    ) / (len(pos) * len(neg))
    assert abs(got - ref) < 1e-12
    # degenerate single-class frames are refused, not silently 0.5
    one_class = spark.createDataFrame(
        [(0.2, 1), (0.7, 1)], "p DOUBLE, label INT"
    )
    with pytest.raises(ValueError, match="AUC undefined"):
        classifier.auc(one_class, "p", "label")


def test_kfold_eval_on_profile_features(spark):
    """Round-9 verdict task 7: kfold_assign mechanics + logreg_train
    composed — per-fold held-out AUC/logloss on real profile-zone
    features.  Folds are disjoint and exhaustive; the trained model
    beats the zero model on held-out loss in every fold.

    The label is a threshold on mean_token_len — separable by
    construction, so it pins the EVAL mechanics (and the standardize
    path: mean_token_len on this corpus is ~constant at 4.5, the exact
    ill-conditioned geometry that made raw full-batch GD oscillate
    with sign-flipping fold models before z-scoring)."""
    from proyecto_gasto_publico_etl_per__spark.operators.textstats import (
        quality_stats,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    feats = ["mean_token_len", "punct_ratio", "upper_ratio", "stopword_ratio"]
    profile = (
        quality_stats(docs)
        .select("doc_id", *feats)
        .withColumn("label", (F.col("mean_token_len") > 4.5).cast("int"))
        .localCheckpoint(eager=True)
    )
    folds = classifier.kfold_eval(
        profile, feats, k=3, n_iters=40, lr=0.5
    )
    assert [r["fold"] for r in folds] == [0, 1, 2]
    total = profile.count()
    assert sum(r["n_eval"] for r in folds) == total  # exhaustive
    assert all(r["n_train"] + r["n_eval"] == total for r in folds)
    for r in folds:
        assert r["auc"] > 0.95, r
        assert r["logloss"] < r["logloss_zero"], r


def test_logreg_standardize_maps_weights_to_raw_space(spark):
    """standardize=True must return weights usable on RAW features:
    same decision function, just trained in z-space.  On wildly
    differently-scaled features (x1000 vs /1000), raw GD at this lr
    diverges while the standardized path separates cleanly."""
    rows = [
        (4500.0 + 10 * i, 0.0001 * (10 - i), 1 if i >= 5 else 0)
        for i in range(10)
        for _ in range(8)
    ]
    df = spark.createDataFrame(rows, "f0 DOUBLE, f1 DOUBLE, label INT")
    w, b = classifier.logreg_train(
        df, ["f0", "f1"], n_iters=60, lr=0.5, standardize=True
    )
    held_loss = classifier.logloss(df, ["f0", "f1"], w, b)
    zero_loss = classifier.logloss(df, ["f0", "f1"], [0.0, 0.0], 0.0)
    assert held_loss < zero_loss / 3  # separable: loss collapses
    scored = classifier.logreg_score(df, ["f0", "f1"], w, b)
    assert classifier.auc(scored, "p_keep", "label") == 1.0


def test_cli_classifier_eval(spark, tmp_path, capsys):
    """The classifier-eval CLI step over a profile zone: per-fold lines
    plus the mean summary — the measured quality number a trained
    classifier ships with."""
    from proyecto_gasto_publico_etl_per__spark import cli
    from proyecto_gasto_publico_etl_per__spark.operators.textstats import (
        lang_id,
        quality_stats,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    profile_dir = str(tmp_path / "profile")
    lang_id(quality_stats(docs)).write.parquet(profile_dir)
    cli.main(
        ["classifier-eval", profile_dir, "--k", "3", "--n-iters", "20"]
    )
    out = capsys.readouterr().out
    assert out.count("fold ") == 3
    assert "zero-model" in out
    assert "mean: auc=" in out
