"""Seeded input generators for the benchmark.

Two families, both pure functions of ``(seed, size)``: the same arguments
write byte-identical files.

- ``write_star_tables``: the ten synthetic star-schema tables the query
  registry reads (``region`` … ``embeddings``), one single-row-group
  parquet file each, with the column names, types and value domains of
  the engine's test tables.  Row counts follow the test tables' scale
  factor rule (``lineitem`` ≈ 6M × sf).
- ``write_mef_csvs``: raw, dirty, all-string monthly MEF extracts
  (``<year>-Gasto-Mensual.csv``), plus held-out month files to land
  one at a time.  The dirt: unparseable ``ANO_EJE`` values, junk metric
  strings, whitespace-padded keys and names, and empty department
  names.  The seed moves the dirt positions and the landing order.

Every MEF dimension attribute is a pure function of its natural key, so
keep-first dimension upserts cannot pick a different attribute than a
direct ``GROUP BY`` — ``MEF_ORACLE_SQL`` restates the served monthly
aggregate straight from the CSVs in DuckDB.
"""

from __future__ import annotations

import datetime as _dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_DAY_1995 = (_dt.date(1995, 1, 1) - _dt.date(1970, 1, 1)).days
_ORDER_DAYS = (_dt.date(2001, 8, 1) - _dt.date(1995, 1, 1)).days
_EVENTS_T0_US = int(
    _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc).timestamp() * 1_000_000
)
_DAY_US = 86_400 * 1_000_000

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per table: adding a table or a
    column to one generator never shifts another table's values."""
    key = [seed & 0xFFFFFFFF, *stream.encode()]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(
        table,
        path,
        row_group_size=max(1, table.num_rows),
        compression="snappy",
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ids(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def star_table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (the test tables' rule)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_star_tables(out_dir: str | Path, seed: int, sf: float) -> dict[str, int]:
    """Write the ten star tables under ``out_dir``; return rows per table."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n = star_table_rows(sf)
    ts_us = pa.timestamp("us")

    _write(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        out / "region.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        out / "nation.parquet",
    )

    r = _rng(seed, "customer")
    nc = n["customer"]
    _write(
        pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": _ids("Customer", nc),
            "c_nationkey": pa.array(r.integers(0, 25, nc, dtype=np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[r.integers(0, 5, nc)]),
        }),
        out / "customer.parquet",
    )

    r = _rng(seed, "supplier")
    ns = n["supplier"]
    _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": _ids("Supplier", ns),
            "s_nationkey": pa.array(r.integers(0, 25, ns, dtype=np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, ns)),
        }),
        out / "supplier.parquet",
    )

    r = _rng(seed, "part")
    np_ = n["part"]
    adj = np.array(_PART_ADJ)[r.integers(0, 8, np_)]
    noun = np.array(_PART_NOUN)[r.integers(0, 8, np_)]
    _write(
        pa.table({
            "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in r.integers(1, 26, np_)]
            ),
            "p_type": pa.array(np.array(_PART_TYPES)[r.integers(0, 6, np_)]),
            "p_size": pa.array(r.integers(1, 51, np_, dtype=np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)
            ),
        }),
        out / "part.parquet",
    )

    r = _rng(seed, "orders")
    no = n["orders"]
    order_day = _EPOCH_DAY_1995 + r.integers(0, _ORDER_DAYS + 1, no)
    _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, nc, no, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(("F", "O", "P"))[r.integers(0, 3, no)]),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, no)),
            "o_orderdate": pa.array(order_day.astype(np.int64) * _DAY_US, ts_us),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[r.integers(0, 5, no)]),
        }),
        out / "orders.parquet",
    )

    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    okey = r.integers(0, no, nl, dtype=np.int64)
    ship_day = order_day[okey] + r.integers(1, 122, nl)
    _write(
        pa.table({
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(r.integers(0, np_, nl, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, ns, nl, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, nl, dtype=np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, nl)),
            "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(np.array(("A", "N", "R"))[r.integers(0, 3, nl)]),
            "l_linestatus": pa.array(np.array(("F", "O"))[r.integers(0, 2, nl)]),
            "l_shipdate": pa.array(ship_day.astype(np.int64) * _DAY_US, ts_us),
        }),
        out / "lineitem.parquet",
    )

    r = _rng(seed, "events")
    ne = n["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, ne)) + _EVENTS_T0_US
    _write(
        pa.table({
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts, ts_us),
            "user_id": pa.array(
                r.integers(0, max(15, int(150_000 * sf)), ne, dtype=np.int64)
            ),
            "event_type": pa.array(np.array(_EVENT_TYPES)[r.integers(0, 5, ne)]),
            "value": pa.array(np.round(r.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
        }),
        out / "events.parquet",
    )

    _write(_documents(seed, n["documents"]), out / "documents.parquet")

    r = _rng(seed, "embeddings")
    nv = n["embeddings"]
    labels = r.integers(0, 10, nv)
    centers = r.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] * 0.5 + r.normal(0.0, 1.0, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }),
        out / "embeddings.parquet",
    )
    return n


def _documents(seed: int, nd: int) -> pa.Table:
    """Bag-of-words documents; about one in twenty is a near duplicate of
    an earlier document (a few words swapped, a ``dup`` marker added) so
    the dedup lanes have real clusters to find."""
    r = _rng(seed, "documents")
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and r.random() < 0.05:
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), 2):
                words[j] = vocab[r.integers(0, len(vocab))]
            words.append("dup")
        else:
            words = list(vocab[r.integers(0, len(vocab), int(r.integers(10, 100)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[r.choice(5, nd, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


# --- MEF raw extracts ---------------------------------------------------------

#: header of the generated extracts (a subset of the 67 reference columns;
#: the absent PROVINCIA_*/DISTRITO_* columns exercise the NULL-conform →
#: 'SIN …' placeholder path)
MEF_HEADER = (
    "ANO_EJE", "MES_EJE", "NIVEL_GOBIERNO", "NIVEL_GOBIERNO_NOMBRE",
    "SEC_EJEC", "EJECUTORA", "EJECUTORA_NOMBRE", "SECTOR", "SECTOR_NOMBRE",
    "PLIEGO", "PLIEGO_NOMBRE", "DEPARTAMENTO_EJECUTORA",
    "DEPARTAMENTO_EJECUTORA_NOMBRE", "FUENTE_FINANCIAMIENTO",
    "FUENTE_FINANCIAMIENTO_NOMBRE", "CATEGORIA_GASTO",
    "CATEGORIA_GASTO_NOMBRE", "TIPO_TRANSACCION", "GENERICA",
    "GENERICA_NOMBRE", "ESPECIFICA", "ESPECIFICA_NOMBRE", "MONTO_PIA",
    "MONTO_PIM", "MONTO_CERTIFICADO", "MONTO_COMPROMETIDO_ANUAL",
    "MONTO_COMPROMETIDO", "MONTO_DEVENGADO", "MONTO_GIRADO",
)
_NIVELES = (("E", "GOBIERNO NACIONAL"), ("R", "GOBIERNOS REGIONALES"),
            ("M", "GOBIERNOS LOCALES"))
_FUENTES = ("RECURSOS ORDINARIOS", "RECURSOS DIRECTAMENTE RECAUDADOS",
            "OPERACIONES OFICIALES DE CREDITO", "DONACIONES Y TRANSFERENCIAS",
            "RECURSOS DETERMINADOS")
_N_EJECUTORAS = 120


def _mef_rows(rng: np.random.Generator, year: int, months: np.ndarray) -> list[str]:
    """CSV lines for one batch of records of ``year`` (month per row)."""
    n = len(months)
    ej = rng.integers(0, _N_EJECUTORAS, n)
    niv = ej % 3
    fte = rng.integers(0, 5, n)
    cat = rng.integers(0, 3, n)
    gen = rng.integers(0, 3, n)
    esp = rng.integers(0, 7, n)
    qty = rng.integers(1, 51, n)
    pim = rng.integers(1_000, 10_000_000, n)
    stage = rng.integers(0, 3, n)  # 0 committed, 1 accrued, 2 paid
    bad_year = rng.random(n) < 0.01
    junk_pia = rng.random(n) < 0.01
    padded = rng.random(n) < 0.5
    lines = []
    for i in range(n):
        e = int(ej[i])
        code = f"{e:04d}"
        dev = int(pim[i]) if stage[i] >= 1 else 0
        gir = int(pim[i]) if stage[i] == 2 else 0
        q = int(qty[i])
        nv = _NIVELES[int(niv[i])]
        lines.append(",".join((
            "bad" if bad_year[i] else str(year),
            str(int(months[i])),
            nv[0],
            nv[1],
            f"  {code} " if padded[i] else code,
            code,
            f"EJ {code}",
            str(e % 7),
            f"  SECTOR {e % 7}  ",
            str(e % 4),
            f"PLIEGO {e % 4}",
            str(e % 10),
            "" if e % 5 == 0 else f"DEP {e % 10}",
            str(int(fte[i]) + 1),
            _FUENTES[int(fte[i])],
            "FOP"[int(cat[i])],
            f"CAT {'FOP'[int(cat[i])]}",
            "2",
            str(int(gen[i])),
            f"G{int(gen[i])}",
            str(int(esp[i])),
            f"E{int(esp[i])}",
            "junk" if junk_pia[i] else str(q),
            str(int(pim[i])),
            str(q * 2),
            str(q * 3),
            str(q * 4),
            str(dev),
            str(gir),
        )))
    return lines


def _write_csv(path: Path, lines: list[str]) -> int:
    data = (",".join(MEF_HEADER) + "\n" + "\n".join(lines) + "\n").encode()
    path.write_bytes(data)
    return len(data)


def write_mef_csvs(
    out_dir: str | Path,
    seed: int,
    years: tuple[int, ...],
    rows_per_year: int,
    held_out_months: tuple[int, ...] = (),
    rows_per_month: int = 0,
) -> dict:
    """Write the bulk extracts and the held-out month files.

    ``out_dir/bulk/<year>-Gasto-Mensual.csv`` holds every month of each
    year, except that the LAST year omits ``held_out_months``; each of
    those months is written alone to ``out_dir/landing/<year>-<mm>.csv``
    to be landed later into the existing year partition.  Returns the
    file lists (landing files in seeded landing order), row counts and
    byte sizes."""
    out = Path(out_dir)
    (out / "bulk").mkdir(parents=True, exist_ok=True)
    (out / "landing").mkdir(parents=True, exist_ok=True)
    bulk: list[str] = []
    bulk_rows = bulk_bytes = 0
    last = years[-1]
    for y in years:
        r = _rng(seed, f"mef-{y}")
        months_allowed = np.array(
            [m for m in range(1, 13) if y != last or m not in held_out_months]
        )
        months = np.sort(months_allowed[r.integers(0, len(months_allowed), rows_per_year)])
        path = out / "bulk" / f"{y}-Gasto-Mensual.csv"
        bulk_bytes += _write_csv(path, _mef_rows(r, y, months))
        bulk_rows += rows_per_year
        bulk.append(str(path))
    landing: list[str] = []
    for m in held_out_months:
        r = _rng(seed, f"mef-{last}-{m:02d}")
        path = out / "landing" / f"{last}-{m:02d}.csv"
        _write_csv(path, _mef_rows(r, last, np.full(rows_per_month, m)))
        landing.append(str(path))
    order = _rng(seed, "landing-order").permutation(len(landing))
    return {
        "bulk": bulk,
        "bulk_rows": bulk_rows,
        "bulk_bytes": bulk_bytes,
        "landing": [landing[i] for i in order],
    }


#: DuckDB restatement of the served ``vw_gasto_agregado_mensual`` over the
#: raw CSVs (``{files}`` is a DuckDB list literal of paths): validity
#: filter, key trimming, junk-metric coercion, the 'SIN …' placeholders
#: and the view's grouping.
MEF_ORACLE_SQL = """
WITH raw AS (
    SELECT TRY_CAST(ANO_EJE AS INTEGER) AS anio,
           TRY_CAST(MES_EJE AS INTEGER) AS mes,
           CAST(TRIM(EJECUTORA) AS INTEGER) AS ej,
           FUENTE_FINANCIAMIENTO_NOMBRE AS fuente,
           CATEGORIA_GASTO_NOMBRE AS cat,
           GENERICA_NOMBRE AS gen, ESPECIFICA_NOMBRE AS esp,
           COALESCE(TRY_CAST(MONTO_PIA AS BIGINT), 0) AS pia,
           CAST(MONTO_PIM AS BIGINT) AS pim,
           CAST(MONTO_CERTIFICADO AS BIGINT) AS cert,
           CAST(MONTO_COMPROMETIDO_ANUAL AS BIGINT) AS comp_anual,
           CAST(MONTO_COMPROMETIDO AS BIGINT) AS comp,
           CAST(MONTO_DEVENGADO AS BIGINT) AS dev,
           CAST(MONTO_GIRADO AS BIGINT) AS gir
    FROM read_csv({files}, header = true, all_varchar = true)
), valid AS (
    SELECT * FROM raw WHERE anio > 0 AND mes BETWEEN 1 AND 12
)
SELECT CAST(anio AS INT) AS anio,
       CAST(mes AS INT) AS mes,
       CAST((mes - 1) // 3 + 1 AS INT) AS trimestre,
       'EJ ' || lpad(CAST(ej AS VARCHAR), 4, '0') AS ejecutora_nombre,
       'SECTOR ' || CAST(ej % 7 AS VARCHAR) AS sector_nombre,
       'PLIEGO ' || CAST(ej % 4 AS VARCHAR) AS pliego_nombre,
       CASE WHEN ej % 5 = 0 THEN 'SIN DEPARTAMENTO'
            ELSE 'DEP ' || CAST(ej % 10 AS VARCHAR) END
           AS dep_ejecutora_nombre,
       'SIN PROVINCIA' AS prov_ejecutora_nombre,
       'SIN DISTRITO' AS dist_ejecutora_nombre,
       'Departamento de ' ||
         CASE WHEN ej % 5 = 0 THEN 'SIN DEPARTAMENTO'
              ELSE 'DEP ' || CAST(ej % 10 AS VARCHAR) END || ', Perú'
           AS region_mapa,
       fuente AS fuente_financiamiento_nombre,
       cat AS categoria_gasto_nombre,
       gen AS generica_nombre,
       esp AS especifica_nombre,
       CAST(SUM(pia) AS DOUBLE) AS pia,
       CAST(SUM(pim) AS DOUBLE) AS pim,
       CAST(SUM(cert) AS DOUBLE) AS certificado,
       CAST(SUM(comp_anual) AS DOUBLE) AS comprometido_anual,
       CAST(SUM(comp) AS DOUBLE) AS comprometido,
       CAST(SUM(dev) AS DOUBLE) AS devengado,
       CAST(SUM(gir) AS DOUBLE) AS girado
FROM valid
GROUP BY ALL
"""
