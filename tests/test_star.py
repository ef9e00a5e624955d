"""Star-builder tests: surrogate keys, idempotent deltas, FK resolution,
grain consolidation (reference load parity: etl/cargar_postgres.py:270-388)."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.functions.hashing import surrogate_key
from proyecto_gasto_publico_etl_per__spark.operators import star
from proyecto_gasto_publico_etl_per__spark.schema import DIMENSIONS, Dim


def _dim(name="dim_funcional"):
    return next(d for d in DIMENSIONS if d.name == name)


def test_surrogate_key_stable_and_trim_insensitive(spark):
    df = spark.createDataFrame(
        [("05", "011"), (" 05 ", "011"), ("05", "012")], ["a", "b"]
    )
    out = df.select(
        surrogate_key(F.trim("a"), F.trim("b")).alias("id")
    ).collect()
    assert out[0].id == out[1].id  # whitespace-normalized keys agree
    assert out[0].id != out[2].id
    # stable across runs (pure function of the key)
    again = df.select(surrogate_key(F.trim("a"), F.trim("b")).alias("id")).collect()
    assert [r.id for r in again] == [r.id for r in out]


def test_surrogate_key_separator_prevents_concat_collisions(spark):
    df = spark.createDataFrame([("ab", "c"), ("a", "bc")], ["a", "b"])
    out = df.select(surrogate_key("a", "b").alias("id")).collect()
    assert out[0].id != out[1].id


def test_upsert_dim_idempotent(spark):
    dim = _dim()
    batch = spark.createDataFrame(
        [("05", "011", "022", "F1", "D1", "G1"), ("05", "011", "022", "F1", "D1", "G1"),
         ("06", "012", "023", "F2", "D2", "G2")],
        [*dim.key, *dim.attrs],
    )
    first = star.new_dim_rows(None, star.extract_dim(batch, dim), dim.key)
    assert first.count() == 2
    # ON CONFLICT DO NOTHING: re-appending the same batch adds no row
    again = star.new_dim_rows(first, star.extract_dim(batch, dim), dim.key)
    assert again.count() == 0
    assert again.columns == first.columns


def test_upsert_dim_appends_only_new_keys(spark):
    dim = _dim()
    b1 = spark.createDataFrame(
        [("05", "011", "022", "F1", "D1", "G1")], [*dim.key, *dim.attrs]
    )
    b2 = spark.createDataFrame(
        [("05", "011", "022", "F1x", "D1x", "G1x"),  # existing key, new attrs
         ("07", "013", "024", "F3", "D3", "G3")],
        [*dim.key, *dim.attrs],
    )
    d1 = star.new_dim_rows(None, star.extract_dim(b1, dim), dim.key)
    delta = star.new_dim_rows(d1, star.extract_dim(b2, dim), dim.key)
    assert [tuple(r[k] for k in dim.key) for r in delta.collect()] == [
        ("07", "013", "024")
    ]
    d2 = d1.unionByName(delta)
    rows = {tuple(r[k] for k in dim.key): r for r in d2.collect()}
    assert len(rows) == 2
    # first-writer wins on conflicting attrs (DO NOTHING semantics)
    assert rows[("05", "011", "022")].funcion_nombre == "F1"


def test_key_type_normalization_int_key(spark):
    # tipo_transaccion compares numerically (cargar_postgres.py:214):
    # "2" and "02" are the same key.
    dim = next(d for d in DIMENSIONS if d.name == "dim_clasificador_gasto")
    df = spark.createDataFrame(
        [("2", "g", "s", "sd", "e", "ed"), ("02", "g", "s", "sd", "e", "ed")],
        dim.key,
    )
    out = star.normalize_key_cols(df, dim)
    assert out.select(*dim.key).distinct().count() == 1


def test_resolve_fks_and_filter_and_consolidate(spark):
    dims = [
        _dim("dim_funcional"),
        next(d for d in DIMENSIONS if d.name == "dim_nivel_gobierno"),
    ]
    records = spark.createDataFrame(
        [
            ("05", "011", "022", "E", "10.00", "4.00"),
            ("05", "011", "022", "E", "2.50", "1.00"),  # duplicate grain
            ("06", "012", "023", "R", "7.00", "3.00"),
        ],
        ["funcion", "division_funcional", "grupo_funcional",
         "nivel_gobierno_codigo", "monto_pia", "monto_devengado"],
    ).select(
        "*",
        F.col("monto_pia").cast("decimal(18,4)").alias("_p"),
    ).drop("_p")
    resolved = star.resolve_fks(records, dims)
    assert {"funcional_id", "nivel_gobierno_id"} <= set(resolved.columns)
    complete = star.fk_complete_filter(
        resolved, ["funcional_id", "nivel_gobierno_id"]
    )
    assert complete.count() == 3
    consolidated = star.consolidate(
        complete,
        grain=["funcional_id", "nivel_gobierno_id"],
        metrics=["monto_pia", "monto_devengado"],
    ).collect()
    assert len(consolidated) == 2
    by_pia = {str(r.monto_pia) for r in consolidated}
    assert by_pia == {"12.50", "7.00"} or by_pia == {"12.5", "7.0"}


def test_append_fact_idempotent(spark):
    grain = ["k"]
    metrics = ["m"]
    batch = spark.createDataFrame(
        [(1, Decimal("5.00")), (1, Decimal("3.00")), (2, Decimal("1.00"))],
        "k INT, m DECIMAL(18,4)",
    )
    f1 = star.new_fact_rows(None, batch, grain, metrics)
    assert {(r.k, str(r.m)) for r in f1.collect()} == {
        (1, "8.0000"), (2, "1.0000")
    }
    # property: loading the same batch twice must not change fact sums —
    # the replay's delta is empty
    replay = star.new_fact_rows(f1, batch, grain, metrics)
    assert replay.count() == 0
    f2 = f1.unionByName(replay)
    assert {(r.k, str(r.m)) for r in f2.collect()} == {
        (1, "8.0000"), (2, "1.0000")
    }


def test_scd2_history_versions(spark):
    snap = spark.createDataFrame(
        [
            # key 1: A, A, B, A  -> versions A@1, B@3, A@4
            (1, 1, "A"), (1, 2, "A"), (1, 3, "B"), (1, 4, "A"),
            # key 2: constant -> one version, current
            (2, 1, "X"), (2, 2, "X"),
            # key 3: NULL attr first (lag-on-period must flag first row)
            (3, 2, None), (3, 3, "Z"),
        ],
        "k INT, t INT, a STRING",
    )
    out = star.scd2_history(snap, ["k"], ["a"], "t")
    rows = {(r.k, r.a, r.valid_from, r.valid_to, r.is_current)
            for r in out.collect()}
    assert rows == {
        (1, "A", 1, 3, 0),
        (1, "B", 3, 4, 0),
        (1, "A", 4, None, 1),
        (2, "X", 1, None, 1),
        (3, None, 2, 3, 0),
        (3, "Z", 3, None, 1),
    }


def test_scd2_history_exactly_one_current_per_key(spark):
    import random

    random.seed(7)
    data = [
        (k, t, random.choice(["A", "B"]))
        for k in range(20)
        for t in range(1, 9)
    ]
    snap = spark.createDataFrame(data, "k INT, t INT, a STRING")
    out = star.scd2_history(snap, ["k"], ["a"], "t").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.k, []).append(r)
    assert set(by_key) == set(range(20))
    for k, vs in by_key.items():
        assert sum(r.is_current for r in vs) == 1
        vs = sorted(vs, key=lambda r: r.valid_from)
        # intervals tile: each valid_to equals the next valid_from
        for prev, nxt in zip(vs, vs[1:]):
            assert prev.valid_to == nxt.valid_from
            assert prev.a != nxt.a  # only changes open versions
        assert vs[-1].valid_to is None


def test_scd2_history_matches_python_model(spark):
    """Exact equality against a direct single-threaded reference model
    (not just invariants): randomized snapshots, including gaps and
    NULL attribute values."""
    import random

    random.seed(23)
    data = []
    for k in range(30):
        periods = sorted(random.sample(range(1, 15), random.randint(1, 10)))
        for t in periods:
            data.append((k, t, random.choice(["A", "B", None])))

    def model(rows):
        out = []
        by_key = {}
        for k, t, a in rows:
            by_key.setdefault(k, []).append((t, a))
        for k, snaps in by_key.items():
            snaps.sort()
            versions = []
            prev = object()  # sentinel: first snapshot always opens
            for t, a in snaps:
                if a is not prev and a != prev:
                    versions.append([k, a, t, None])
                    prev = a
            for v, nxt in zip(versions, versions[1:]):
                v[3] = nxt[2]
            out.extend(
                (k, a, vf, vt, 1 if vt is None else 0)
                for k, a, vf, vt in versions
            )
        return out

    snap = spark.createDataFrame(data, "k INT, t INT, a STRING")
    got = {
        (r.k, r.a, r.valid_from, r.valid_to, r.is_current)
        for r in star.scd2_history(snap, ["k"], ["a"], "t").collect()
    }
    assert got == set(model(data))


def test_scd1_merge_update_insert_passthrough(spark):
    existing = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (None, "nullkey", 30)],
        "k INT, name STRING, v INT",
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21), (3, "c", 31), (None, None, 32)],
        "k INT, name STRING, v INT",
    )
    out = {
        r.k: (r.name, r.v)
        for r in star.scd1_merge(
            existing, updates, ["k"], ["name", "v"]
        ).collect()
    }
    assert out[1] == ("a", 10)  # untouched passthrough
    assert out[2] == ("b2", 21)  # matched -> update wins
    assert out[3] == ("c", 31)  # new key appended
    # NULL key matches NULL key (null-safe), and a NULL update attr
    # OVERWRITES the existing value (MERGE semantics, not coalesce)
    assert out[None] == (None, 32)
    assert len(out) == 4


def test_scd1_merge_idempotent(spark):
    existing = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k INT, name STRING"
    )
    updates = spark.createDataFrame([(2, "b2")], "k INT, name STRING")
    once = star.scd1_merge(existing, updates, ["k"], ["name"])
    twice = star.scd1_merge(once, updates, ["k"], ["name"])
    assert sorted((r.k, r.name) for r in once.collect()) == sorted(
        (r.k, r.name) for r in twice.collect()
    )
