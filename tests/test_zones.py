"""The shared zone lifecycle (sources/zones.py), once per lane: the
compaction overlap guard, stale-tombstone clearing on rebuild and
compaction, idempotent re-delete, and the index-directory resolver.
Each lane's own identities (streamed==batch, delete==rebuild,
compaction preserves serving) stay in its suite."""

from __future__ import annotations

import os

import pytest

from proyecto_gasto_publico_etl_per__spark.sources import zones

from zone_lanes import LANES, TOMBSTONED


@pytest.fixture(scope="module")
def tombstoned_roots(spark, tmp_path_factory):
    """One index per lane with two served ids tombstoned (aggregate
    zones have no tombstones), and its served rows."""
    out = {}
    for name, lane in LANES.items():
        root = lane.build(spark, str(tmp_path_factory.mktemp(name) / "idx"))
        if lane.tombstoned:
            served = lane.serve(spark, [root])
            lane.delete(spark, [root], sorted(map(lane.id_of, served))[:2])
        out[name] = (root, lane.serve(spark, [root]))
    return out


@pytest.mark.parametrize("case", ["equal", "inside", "above", "symlink"])
@pytest.mark.parametrize("lane", sorted(LANES))
def test_compact_overlap_refused(
    spark, tmp_path, tombstoned_roots, lane, case
):
    """A compaction whose out root overlaps its input (the same dir,
    nested either way, or a symlink alias of it) is refused before
    anything is written or cleared: the input still serves its
    tombstone-adjusted rows."""
    root, served = tombstoned_roots[lane]
    if case == "symlink":
        out = str(tmp_path / "alias")
        os.symlink(root, out)
    else:
        out = {
            "equal": root,
            "inside": f"{root}/nested",
            "above": os.path.dirname(root),
        }[case]
    with pytest.raises(ValueError, match="overlaps"):
        LANES[lane].compact(spark, [root], out)
    assert LANES[lane].serve(spark, [root]) == served


@pytest.mark.parametrize("lane", ["bm25", "trigram"])
def test_rebuild_clears_stale_tombstones(spark, tmp_path, lane):
    """Rebuilding into a root that carries tombstones (a replayed
    build) drops them: the old index's deletions must not hide the
    new corpus's rows."""
    lane = LANES[lane]
    root = lane.build(spark, str(tmp_path / "idx"))
    fresh = lane.serve(spark, [root])
    lane.delete(spark, [root], sorted(map(lane.id_of, fresh))[:2])
    assert lane.serve(spark, [root]) != fresh
    lane.build(spark, root)
    assert not os.path.isdir(f"{root}/tombstones")
    assert lane.serve(spark, [root]) == fresh


@pytest.mark.parametrize("lane", TOMBSTONED)
def test_compaction_clears_stale_tombstones(spark, tmp_path, lane):
    """Compacting into a reused out root drops the out root's own
    stale tombstones; the folded index serves exactly its input's
    tombstone-adjusted rows and carries no tombstones zone."""
    lane = LANES[lane]
    src = lane.build(spark, str(tmp_path / "src"))
    fresh = lane.serve(spark, [src])
    lane.delete(spark, [src], sorted(map(lane.id_of, fresh))[:1])
    want = lane.serve(spark, [src])
    out = lane.build(spark, str(tmp_path / "out"))
    lane.delete(spark, [out], sorted(map(lane.id_of, fresh))[-1:])
    assert os.path.isdir(f"{out}/tombstones")
    lane.compact(spark, [src], out)
    assert not os.path.isdir(f"{out}/tombstones")
    assert lane.serve(spark, [out]) == want


@pytest.mark.parametrize("lane", TOMBSTONED)
def test_redelete_is_idempotent(spark, tmp_path, lane):
    """A delete counts only newly tombstoned ids; re-deleting appends
    nothing and serving is unchanged."""
    lane = LANES[lane]
    root = lane.build(spark, str(tmp_path / "idx"))
    a, b, c = sorted(map(lane.id_of, lane.serve(spark, [root])))[:3]
    assert lane.delete(spark, [root], [a, b]) == 2
    once = lane.serve(spark, [root])
    assert lane.delete(spark, [root], [b, a]) == 0
    assert lane.serve(spark, [root]) == once
    assert lane.delete(spark, [root], [b, c]) == 1
    assert c not in {lane.id_of(r) for r in lane.serve(spark, [root])}
    ids = spark.read.parquet(f"{root}/tombstones").collect()
    assert sorted(r[0] for r in ids) == [a, b, c]


def _touch(path):
    """Create a marker: a file for spec.json, else a directory."""
    if path.endswith(".json"):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        open(path, "w").close()
    else:
        os.makedirs(path)


@pytest.mark.parametrize("lane", sorted(LANES))
def test_index_dir_layouts(tmp_path, lane):
    """The resolver over an index dir: empty and missing dirs have no
    roots, structured roots come back base-first in ascending N, a bare
    root is itself, and bare + structured is refused as ambiguous.  The
    build and append targets refuse the layouts that would double-count
    or turn ambiguous."""
    marker = LANES[lane].marker
    d = str(tmp_path / "idx")
    assert zones.index_roots(str(tmp_path / "missing"), marker) == []
    os.makedirs(d)
    assert zones.index_roots(d, marker) == []
    with pytest.raises(ValueError, match="no base"):
        zones.delta_root(d, marker)

    assert zones.base_root(f"file:{d}", marker) == f"{d}/base"
    for sub in ("base", "delta=10", "delta=2"):
        _touch(f"{d}/{sub}/{marker}")
    assert zones.index_roots(d, marker) == [
        f"{d}/base", f"{d}/delta=2", f"{d}/delta=10",
    ]
    assert zones.delta_root(d, marker) == f"{d}/delta=11"
    with pytest.raises(ValueError, match="double-counts"):
        zones.base_root(d, marker)

    bare = str(tmp_path / "bare")
    _touch(f"{bare}/{marker}")
    assert zones.index_roots(bare, marker) == [bare]
    for target in (zones.base_root, zones.delta_root):
        with pytest.raises(ValueError, match="bare zone root"):
            target(bare, marker)

    _touch(f"{d}/{marker}")
    with pytest.raises(ValueError, match="ambiguous"):
        zones.index_roots(d, marker)
