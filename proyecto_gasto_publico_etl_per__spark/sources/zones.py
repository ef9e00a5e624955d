"""Zone lifecycle shared by the engine's persisted index lanes.

A zone root is a local directory of parquet zones that one build wrote
over one disjoint slice of the input.  Four lanes persist them:

- BM25 / phrase (`operators.retrieval`): postings, doclen, dfreq,
  stats; tombstones (doc_id, dl);
- trigram substring (`operators.trigram`): postings, stats; tombstones
  (doc_id);
- IVF-PQ (`operators.similarity`): index_assigned, index_codes and the
  frozen centroids/codebook/manifest; tombstones (neighbor_id);
- aggregate zones (`operators.aggzone`): partials + spec.json; no
  tombstones (min/max/KMV partials are not invertible).

Every lane runs the same lifecycle, and this module is its one copy.
Each lane supplies only its payload schemas, its id column, how it
forms a delete batch, and its compaction fold.

- **Boundary** (`as_local_path`).  Tombstones and spec.json are found
  with a local filesystem probe, so every function here resolves its
  roots first: ``file:`` URIs (all three spellings) become local
  paths, and any other scheme raises instead of silently missing a
  zone (a missed tombstones zone resurrects deleted rows).
- **Read** (`read_zone`).  The union of one zone across roots, read
  with a declared schema: an empty build leaves a partitioned zone
  with no data files, which schema inference cannot read.  Partition
  discovery runs per root, because roots live in unrelated directories.
- **Build** (`build_root`).  A fresh tempdir, or an explicit root
  rewritten in place (CLI base/delta roots, a replayed build).  A rebuilt
  root drops any stale tombstones zone: deletes write it, not builds,
  and a survivor would anti-join the new corpus's matching ids.
- **Delete** (`append_tombstones`, `read_tombstones`).  A delete
  appends the lane's batch to ``<root>/tombstones`` after anti-joining
  the ids already tombstoned, so a re-delete appends nothing.  Serving
  reads the distinct tombstones of all roots, or gets None when no
  root has any; then its plan is the pre-deletion plan, with no extra
  join and no extra read.  A tombstone hides its id in every root,
  including roots written later, so `reingest_conflicts` finds the
  incoming ids a later append would make invisible.
- **Compact** (`compact_root`).  The output root must not overlap an
  input (equal, nested either way, or a symlink alias): the fold reads
  the inputs while writing, and clearing the output's stale
  tombstones first would otherwise destroy the inputs' own.  The
  output carries no tombstones zone.
- **Layout** (`index_roots`, `base_root`, `delta_root`).  An index
  directory holds a ``base/`` root and ``delta=N/`` roots (CLI
  appends), or is itself a bare root (a compacted output).  Both at
  once is ambiguous and refused: serving either subset alone would
  drop the other's rows.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from collections.abc import Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOMBSTONES = "tombstones"


def as_local_path(root: str) -> str:
    """``root`` as a plain local path: ``file:/p``, ``file://host/p``
    and ``file:///p`` resolve to ``/p``; any other scheme raises."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):(?=/)", root)
    if m is None:
        return root
    scheme = m.group(1).lower()
    if scheme != "file":
        raise ValueError(
            f"zone root {root!r} has scheme {scheme!r} — zones are "
            "probed with local file IO (tombstones, spec.json), so a "
            "non-local root would silently miss them; pass a plain "
            "local path"
        )
    path = urlparse(root).path
    if not path:
        raise ValueError(
            f"cannot resolve file URI {root!r} to a local path"
        )
    return path


def local_roots(roots: Sequence[str]) -> list[str]:
    """`as_local_path` over a non-empty root list."""
    if not roots:
        raise ValueError("need at least one zone root")
    return [as_local_path(r) for r in roots]


def read_zone(
    spark: SparkSession,
    roots: Sequence[str],
    sub: str,
    schema: str | T.StructType,
) -> DataFrame:
    """Schema-declared union of zone ``sub`` across ``roots``."""
    roots = local_roots(roots)
    rd = spark.read.schema(schema)
    out = rd.parquet(f"{roots[0]}/{sub}")
    for r in roots[1:]:
        out = out.unionByName(rd.parquet(f"{r}/{sub}"))
    return out


def read_tombstones(
    spark: SparkSession, roots: Sequence[str], schema: str
) -> DataFrame | None:
    """Distinct tombstones across the roots that carry a tombstones
    zone, or None when none does.  ``schema``'s first column is the
    lane's id.  The distinct makes repeated deletes idempotent and the
    tombstone's root irrelevant (roots hold disjoint ids)."""
    marked = [
        r for r in local_roots(roots) if os.path.isdir(f"{r}/{TOMBSTONES}")
    ]
    if not marked:
        return None
    return read_zone(spark, marked, TOMBSTONES, schema).distinct()


def drop_tombstoned(df: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """``df`` without the rows whose id (``tomb``'s first column) is
    tombstoned: a broadcast anti-join of the delete-batch-sized set."""
    if tomb is None:
        return df
    id_col = tomb.columns[0]
    return df.join(F.broadcast(tomb.select(id_col)), id_col, "left_anti")


def id_frame(
    spark: SparkSession, ids: DataFrame | Sequence[int], id_col: str
) -> DataFrame:
    """A delete request as a one-column LONG frame named ``id_col``:
    the first column of a frame, or a list of ints."""
    if isinstance(ids, DataFrame):
        return ids.select(F.col(ids.columns[0]).cast("long").alias(id_col))
    return spark.createDataFrame([(int(i),) for i in ids], f"{id_col} LONG")


def append_tombstones(
    spark: SparkSession,
    roots: Sequence[str],
    batch: DataFrame,
    schema: str,
    target: str | None,
) -> int:
    """Append the lane's delete ``batch`` (rows of ``schema``) to
    ``<target>/tombstones`` (None: the first root), minus the ids
    any root already tombstones.  Returns the number of newly
    tombstoned ids.  ``target`` must be one of ``roots``: serving
    probes only the roots, so a tombstone elsewhere would change
    nothing and break re-delete idempotence."""
    roots = local_roots(roots)
    target = roots[0] if target is None else as_local_path(target)
    if os.path.realpath(target) not in {
        os.path.realpath(r) for r in roots
    }:
        raise ValueError(
            f"tomb_root {target!r} is not one of the index roots — "
            "serving would never see the tombstones"
        )
    batch = drop_tombstoned(batch, read_tombstones(spark, roots, schema))
    # the delete batch is tiny: one file keeps the zone compact
    batch = batch.coalesce(1).persist()
    try:
        n = batch.count()
        if n:
            batch.write.mode("append").parquet(f"{target}/{TOMBSTONES}")
    finally:
        batch.unpersist()
    return n


def reingest_conflicts(
    spark: SparkSession, roots: Sequence[str], ids: DataFrame, id_col: str
) -> list[int]:
    """Ids in ``ids`` (first column) that are tombstoned at ``roots``:
    appending them would leave those rows permanently invisible.
    Compacting first (the fold erases tombstones) or fresh ids resolve
    it.  Zero reads with no tombstones; returns a sorted sample of at
    most 100 ids, empty when the append is safe."""
    tomb = read_tombstones(spark, roots, f"{id_col} LONG")
    if tomb is None:
        return []
    hit = (
        ids.select(F.col(ids.columns[0]).alias(id_col))
        .distinct()
        .join(F.broadcast(tomb), id_col)
        .limit(100)
    )
    return sorted(r[0] for r in hit.collect())


def _clear_tombstones(root: str) -> None:
    shutil.rmtree(f"{root}/{TOMBSTONES}", ignore_errors=True)


def build_root(root: str | None, prefix: str) -> tuple[str, str]:
    """(root, parquet write mode) for a zone build: a fresh tempdir
    written errorifexists, or ``root`` rewritten in place with its
    stale tombstones zone cleared."""
    if root is None:
        return tempfile.mkdtemp(prefix=prefix) + "/zones", "errorifexists"
    root = as_local_path(root)
    _clear_tombstones(root)
    return root, "overwrite"


def check_disjoint(out_root: str, roots: Sequence[str]) -> None:
    """Refuse an ``out_root`` equal to, inside, or above any root
    (compared by realpath, so symlink aliases count)."""
    out_real = os.path.realpath(as_local_path(out_root))
    for r in roots:
        r_real = os.path.realpath(as_local_path(r))
        if (
            out_real == r_real
            or out_real.startswith(r_real + os.sep)
            or r_real.startswith(out_real + os.sep)
        ):
            raise ValueError(
                f"out_root {out_root!r} overlaps input root {r!r}; "
                "compact to a directory outside the index being read"
            )


def compact_root(out_root: str, roots: Sequence[str]) -> str:
    """The local ``out_root`` of a compaction over ``roots``, checked
    disjoint from them BEFORE its stale tombstones zone is cleared."""
    out_root = as_local_path(out_root)
    check_disjoint(out_root, roots)
    _clear_tombstones(out_root)
    return out_root


def _numbered(index_dir: str) -> list[int]:
    """The N of each ``<index_dir>/delta=N`` root, ascending."""
    try:
        names = os.listdir(index_dir)
    except FileNotFoundError:
        return []
    return sorted(
        int(m.group(1))
        for name in names
        if (m := re.fullmatch(r"delta=(\d+)", name))
    )


def _stale(index_dir: str) -> list[str]:
    """The delta=N roots under ``index_dir``, ascending."""
    return [f"{index_dir}/delta={n}" for n in _numbered(index_dir)]


def _is_bare(index_dir: str, marker: str) -> bool:
    return os.path.exists(f"{index_dir}/{marker}")


def index_roots(index_dir: str, marker: str) -> list[str]:
    """The zone roots of an index directory: ``base/``, then
    ``delta=N/`` in ascending N, or ``[index_dir]``
    when ``marker`` (the lane's always-written entry, e.g. postings)
    sits directly under it.  Empty when there is neither; a directory
    that is both raises."""
    index_dir = as_local_path(index_dir)
    structured = _stale(index_dir)
    if os.path.isdir(f"{index_dir}/base"):
        structured.insert(0, f"{index_dir}/base")
    if not _is_bare(index_dir, marker):
        return structured
    if structured:
        raise ValueError(
            f"{index_dir}: ambiguous index — it is a bare zone root "
            f"({marker}) AND contains structured roots "
            f"({[os.path.basename(r) for r in structured]}). Serving "
            "either subset alone would silently drop the other's rows; "
            "separate them into distinct directories."
        )
    return [index_dir]


def _refuse_bare(index_dir: str, marker: str, what: str) -> None:
    if _is_bare(index_dir, marker):
        raise ValueError(
            f"{index_dir} is a bare zone root ({marker} present — e.g. "
            f"a compacted out_dir); {what} under it would make the "
            "index ambiguous. Use a fresh directory, or move the bare "
            f"zones to {index_dir}/base first."
        )


def base_root(index_dir: str, marker: str) -> str:
    """Where a full build of the index at ``index_dir`` goes.  Refuses
    a bare root and surviving delta roots, which a rebuilt base would
    double-count."""
    index_dir = as_local_path(index_dir)
    _refuse_bare(index_dir, marker, "building base/")
    stale = _stale(index_dir)
    if stale:
        raise ValueError(
            f"{index_dir} has existing zone roots "
            f"({[os.path.basename(r) for r in stale]}); a rebuilt base "
            "plus stale roots double-counts their rows. Remove them "
            "(the rebuild covers them) or compact to a fresh directory "
            "instead."
        )
    return f"{index_dir}/base"


def delta_root(index_dir: str, marker: str) -> str:
    """The next ``delta=N`` root for an append to the index at
    ``index_dir``, which must hold a ``base/`` root."""
    index_dir = as_local_path(index_dir)
    _refuse_bare(index_dir, marker, "delta zones")
    if not os.path.isdir(f"{index_dir}/base"):
        raise ValueError(
            f"{index_dir}: no base/ zone — build the index first (an "
            "append follows the base's layout)"
        )
    n = max(_numbered(index_dir), default=-1) + 1
    return f"{index_dir}/delta={n}"
