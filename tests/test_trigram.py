"""Trigram substring index (operators/trigram.py): exactness vs the
corpus-scan truth, the candidate-superset invariant, zone
associativity, and the pruning contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.operators import trigram

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    root = trigram.build_trigram_index(spark, docs)
    return docs, root


def _exact(docs, needle):
    return sorted(
        r.doc_id
        for r in docs.where(
            F.instr(
                F.lower(F.coalesce("text", F.lit(""))), needle.lower()
            )
            > 0
        ).collect()
    )


def _served(spark, roots, needle, docs):
    return sorted(
        r.doc_id
        for r in trigram.trigram_serve(spark, roots, needle, docs).collect()
    )


def test_serve_equals_exact_scan(spark, corpus):
    docs, root = corpus
    for needle in ("window sc", "merge part", "spark", "the fast key"):
        got = _served(spark, [root], needle, docs)
        want = _exact(docs, needle)
        assert got == want and got, needle


def test_case_insensitive_and_absent(spark, corpus):
    docs, root = corpus
    assert _served(spark, [root], "WINDOW SC", docs) == _exact(
        docs, "window sc"
    )
    assert _served(spark, [root], "zzqxv", docs) == []


def test_candidates_superset(spark, corpus):
    """The index's candidate set contains every true match — the
    invariant that makes verify-over-candidates exact."""
    docs, root = corpus
    needle = "window sc"
    cands = {
        r.doc_id
        for r in trigram.trigram_candidates(spark, [root], needle).collect()
    }
    assert set(_exact(docs, needle)) <= cands


def test_sampled_real_substrings_always_found(spark, corpus):
    """Substrings cut from real documents must come back with their
    source doc — randomized positives across lengths 3..12."""
    import random

    docs, root = corpus
    rng = random.Random(7)
    rows = docs.orderBy("doc_id").limit(20).collect()
    for r in rows[:8]:
        t = (r.text or "").lower()
        if len(t) < 12:
            continue
        start = rng.randrange(0, len(t) - 12)
        needle = t[start : start + rng.randrange(3, 13)]
        assert r.doc_id in _served(spark, [root], needle, docs), needle


def test_append_equals_rebuild(spark, corpus):
    docs, _ = corpus
    r1 = trigram.build_trigram_index(
        spark, docs.where(F.col("doc_id") % 2 == 0)
    )
    r2 = trigram.build_trigram_index(
        spark, docs.where(F.col("doc_id") % 2 == 1)
    )
    assert _served(spark, [r1, r2], "window sc", docs) == _exact(
        docs, "window sc"
    )


def test_short_needle_refused(spark, corpus):
    docs, root = corpus
    with pytest.raises(ValueError, match="shorter than"):
        trigram.trigram_serve(spark, [root], "ab", docs)


def test_empty_and_null_text_tolerated(spark):
    docs = spark.createDataFrame(
        [(1, "window scan here"), (2, ""), (3, None)],
        "doc_id LONG, text STRING",
    )
    root = trigram.build_trigram_index(spark, docs)
    assert _served(spark, [root], "window sc", docs) == [1]


def test_postings_read_is_partition_pruned(spark, corpus):
    """The candidate plan's postings scan carries a tri_bucket
    partition filter and a pushed tri IN predicate — the index seek,
    not a zone scan (the bm25_serving contract applied here)."""
    _, root = corpus
    plan = (
        trigram.trigram_candidates(spark, [root], "window sc")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "tri_bucket" in seg
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "In(tri" in pushed


def test_cli_substring_lifecycle(spark, tmp_path, capsys):
    """substring-index-build → substring-search → append → search
    (== full rebuild) — the user-facing lifecycle."""
    from proyecto_gasto_publico_etl_per__spark import cli

    schema = "doc_id LONG, text STRING"
    b1 = [(1, "the window scan runs"), (2, "hash merge only")]
    b2 = [(3, "another window scatter"), (4, "plain text")]
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    dall = str(tmp_path / "dall")
    spark.createDataFrame(b1, schema).write.parquet(d1)
    spark.createDataFrame(b2, schema).write.parquet(d2)
    spark.createDataFrame(b1 + b2, schema).write.parquet(dall)
    idx = str(tmp_path / "idx")

    cli.main(["substring-index-build", d1, idx])
    assert "trigram-indexed 2 documents" in capsys.readouterr().out
    cli.main(["substring-search", idx, dall, "window sc"])
    out1 = capsys.readouterr().out
    assert "[1]" in out1

    cli.main(["substring-index-append", d2, idx])
    capsys.readouterr()
    cli.main(["substring-search", idx, dall, "window sc"])
    out2 = capsys.readouterr().out
    assert "1" in out2 and "3" in out2

    with pytest.raises(SystemExit, match="shorter than"):
        cli.main(["substring-search", idx, dall, "ab"])
    with pytest.raises(SystemExit, match="existing zone roots"):
        cli.main(["substring-index-build", d1, idx])


def test_delete_equals_rebuild_on_remaining(spark, corpus):
    """Tombstoned serving == an index rebuilt over the remaining docs
    (delete == rebuild-on-remaining), re-delete is idempotent, and
    compaction folds the tombstones out physically."""
    import os
    import tempfile

    docs, _ = corpus
    root = trigram.build_trigram_index(spark, docs)
    victims = docs.select("doc_id").where(F.col("doc_id") % 10 == 3)
    n = trigram.delete_from_trigram_index(spark, [root], victims)
    assert n == victims.count()

    remaining = docs.where(F.col("doc_id") % 10 != 3)
    want = _served(
        spark,
        [trigram.build_trigram_index(spark, remaining)],
        "window sc",
        docs,
    )
    got = _served(spark, [root], "window sc", docs)
    assert got == want and got

    # idempotent re-delete
    trigram.delete_from_trigram_index(spark, [root], victims)
    assert _served(spark, [root], "window sc", docs) == want

    # compaction: folded root serves identically with NO tombstones
    out = tempfile.mkdtemp(prefix="tri_fold_") + "/zones"
    folded = trigram.compact_trigram_index(spark, [root], out)
    assert not os.path.isdir(f"{folded}/tombstones")
    assert _served(spark, [folded], "window sc", docs) == want


def test_epoch_rebuild_clears_stale_tombstones(spark, tmp_path):
    """Rebuilding an explicit root must clear a surviving tombstones
    zone — the previous index's deletions must not suppress the NEW
    corpus's matching doc_ids (the r14 stale-zone rule)."""
    docs = spark.createDataFrame(
        [(1, "window scan a"), (2, "window scan b")],
        "doc_id LONG, text STRING",
    )
    root = str(tmp_path / "idx")
    trigram.build_trigram_index(spark, docs, root=root)
    trigram.delete_from_trigram_index(
        spark, [root], spark.createDataFrame([(1,)], "doc_id LONG")
    )
    assert _served(spark, [root], "window sc", docs) == [2]
    # replayed build: same root rebuilt — deletions must vanish
    trigram.build_trigram_index(spark, docs, root=root)
    assert _served(spark, [root], "window sc", docs) == [1, 2]


def test_cli_substring_delete(spark, tmp_path, capsys):
    from proyecto_gasto_publico_etl_per__spark import cli

    schema = "doc_id LONG, text STRING"
    rows = [(1, "window scan a"), (2, "window scan b"), (3, "plain")]
    d = str(tmp_path / "d")
    spark.createDataFrame(rows, schema).write.parquet(d)
    idx = str(tmp_path / "idx")
    cli.main(["substring-index-build", d, idx])
    capsys.readouterr()
    cli.main(["substring-index-delete", idx, "1"])
    assert "tombstoned 1 documents" in capsys.readouterr().out
    cli.main(["substring-search", idx, d, "window sc"])
    out = capsys.readouterr().out
    assert "[2]" in out


def test_cli_substring_streamed_and_ambiguous_layouts(spark, tmp_path, capsys):
    """The substring commands resolve an index dir like the text and
    aggregate commands do: an index of base/ plus a delta=N/ root
    deletes and serves across both, and a dir that is both a bare root
    and holds base/ is refused as ambiguous instead of serving only the
    bare zones."""
    from proyecto_gasto_publico_etl_per__spark import cli

    schema = "doc_id LONG, text STRING"
    rows = [(1, "window scan a"), (2, "window scan b"), (3, "plain")]
    d = str(tmp_path / "d")
    docs = spark.createDataFrame(rows, schema)
    docs.write.parquet(d)

    layered = tmp_path / "layered"
    trigram.build_trigram_index(
        spark, docs.where(F.col("doc_id") <= 2), root=f"{layered}/base"
    )
    trigram.build_trigram_index(
        spark, docs.where(F.col("doc_id") > 2), root=f"{layered}/delta=1"
    )
    cli.main(["substring-index-delete", str(layered), "1"])
    assert "tombstoned 1 documents" in capsys.readouterr().out
    cli.main(["substring-search", str(layered), d, "window sc"])
    assert "[2]" in capsys.readouterr().out

    both = tmp_path / "both"
    trigram.build_trigram_index(spark, docs, root=f"{both}/base")
    trigram.build_trigram_index(spark, docs.limit(1), root=str(both))
    for argv in (
        ["substring-search", str(both), d, "window sc"],
        ["substring-index-delete", str(both), "1"],
    ):
        with pytest.raises(SystemExit, match="ambiguous"):
            cli.main(argv)
