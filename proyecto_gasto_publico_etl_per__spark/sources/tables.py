"""Loader for the synthetic star-schema testdata (TESTDATA.md).

``TABLES`` declares the ten tables' schemas.  Every read hands Spark its
schema, so building and planning a query over them runs no Spark job.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .zones import as_local_path

#: catalog type name → Spark type (parsed in Python: no JVM at import)
_TYPES: dict[str, T.DataType] = {
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "timestamp_ntz": T.TimestampNTZType(),
    "array<float>": T.ArrayType(T.FloatType()),
}


def _struct(columns: str) -> T.StructType:
    """``"a int, b string"`` as a StructType."""
    return T.StructType(
        [
            T.StructField(name, _TYPES[typ])
            for name, typ in (c.split() for c in columns.split(","))
        ]
    )


#: table → declared schema.  The same at sf0.001, sf0.01 and sf0.1 and in
#: the benchmark's generated tables; ``load_table`` checks every footer
#: it reads against it.
TABLES: dict[str, T.StructType] = {
    name: _struct(columns)
    for name, columns in {
        "region": "r_regionkey int, r_name string",
        "nation": "n_nationkey int, n_name string, n_regionkey int",
        "customer": (
            "c_custkey bigint, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string"
        ),
        "supplier": (
            "s_suppkey bigint, s_name string, s_nationkey int, "
            "s_acctbal double"
        ),
        "part": (
            "p_partkey bigint, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double"
        ),
        "orders": (
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp_ntz, "
            "o_orderpriority string"
        ),
        "lineitem": (
            "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp_ntz"
        ),
        "events": (
            "event_id bigint, ts timestamp_ntz, user_id bigint, "
            "event_type string, value double, props string"
        ),
        "documents": (
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint"
        ),
        "embeddings": "vec_id bigint, embedding array<float>, label int",
    }.items()
}


def ensure_engine_confs(spark: SparkSession) -> None:
    """Apply the two session-level settings engine results depend on.

    Both are deliberately session-scoped (neither has a per-read reader
    option) and are part of the engine's documented session contract:

    - ``nanosAsLong``: Spark 4 refuses unadjusted TIMESTAMP(NANOS)
      parquet otherwise.  With it, a nanos column reads as its bigint
      nanos; ``load_table`` sees the unit in the footer, reads such a
      column as bigint and rebuilds the catalog's ``timestamp_ntz`` from
      it.  Side effect: OTHER nanos parquet columns read in this session
      also come back as longs.
    - session timeZone = UTC: timestamp rendering must agree with the
      (timezone-naive) DuckDB oracle; queries keep running after the
      read, so save-and-restore would change results mid-plan.

    An explicitly different user timezone is overridden LOUDLY, never
    silently clobbered.
    """
    if (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        != "true"
    ):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # no fallback value here: Spark 4 VALIDATES the fallback string before
    # checking whether the key is set, and timeZone always has a resolved
    # session value anyway — conf.get(key, "") raises INVALID_CONF_VALUE
    # on an otherwise-healthy session.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        if tz not in ("Etc/UTC", "Z"):
            import warnings

            warnings.warn(
                f"overriding spark.sql.session.timeZone={tz!r} with UTC: "
                "engine results are defined in UTC rendering",
                stacklevel=3,
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def fan_out(df: DataFrame, floor_fraction: float = 0.5) -> DataFrame:
    """Widen an under-parallel input before a CPU-dense derivation.

    A parquet ROW GROUP is the unsplittable scan unit: a small
    single-row-group file scans as 1-2 partitions no matter how
    ``maxPartitionBytes``/``minPartitionNum`` are tuned, which serializes
    every expensive expression chain that follows (shingle explodes,
    per-token md5, vector dot products) onto 1-2 cores.  When the plan's
    current partitioning is below ``floor_fraction ×`` the session's
    default parallelism, round-robin repartition up to the default — the
    rows are tiny relative to the compute they feed, so the extra narrow
    shuffle is noise.  At warehouse scale row groups vastly outnumber
    cores, the guard never fires, and this is a structural no-op —
    downstream results must therefore never depend on partitioning, which
    the engine's exact/quantized arithmetic already guarantees.

    Batch-only (``df.rdd`` is illegal on streaming frames).
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(1, int(target * floor_fraction)):
        return df
    return df.repartition(target)


#: below this footer-reported size a table is dim-or-broadcast-sized: the
#: scan task is trivial and downstream ops either broadcast it (an extra
#: exchange before a BroadcastExchange is two wasted AQE stages) or
#: `fan_out` it at the operator head — an upfront exchange would be pure
#: overhead.  Only genuinely fact-sized single-row-group files benefit.
_FANOUT_MIN_BYTES = 8 * 1024 * 1024


def _scan_units(footers, cap: int = 64) -> tuple[int, int]:
    """(total row groups, total bytes) from parquet footers, driver-side.

    The ROW GROUP is the real scan-split unit: Spark happily plans 21
    byte-range splits over a single-row-group file, but 20 of them read
    nothing — ``rdd.getNumPartitions()`` reports fake parallelism, so
    any honest under-parallelism check must come from the footers.
    Stops counting at ``cap`` row groups (beyond that the scan is
    parallel enough and the exact number is irrelevant).
    """
    rgs = nbytes = 0
    for md in footers:
        rgs += md.num_row_groups
        nbytes += sum(
            md.row_group(i).total_byte_size
            for i in range(md.num_row_groups)
        )
        if rgs >= cap:
            break
    return rgs, nbytes


def _local_files(path: str) -> list[Path] | None:
    """The parquet files of a table path on the local file system, or
    None when the path is not local (another URI scheme, or nothing
    there)."""
    try:
        p = Path(as_local_path(path))
    except ValueError:
        return None
    if p.is_file():
        return [p]
    files = sorted(p.rglob("*.parquet")) if p.is_dir() else []
    return files or None


def _footer_types(footer) -> dict[str, T.DataType]:
    """Column → the type an engine session reads it as: nanosecond
    timestamps come back as their bigint nanos (``nanosAsLong``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    return {
        f.name: (
            T.LongType()
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            else from_arrow_type(f.type, prefer_timestamp_ntz=True)
        )
        for f in footer.schema.to_arrow_schema()
    }


def _read_schema(
    name: str, path: str, stored: dict[str, T.DataType]
) -> tuple[T.StructType, list[str]]:
    """The schema to read a stored layout with, and its nanos columns.

    Each stored column gets its catalog field, in stored order; a
    catalog ``timestamp_ntz`` stored as nanos reads as bigint.  A stored
    column the catalog does not know, or one stored as another type,
    raises ``ValueError`` naming the table, the column and both types.
    A catalog column absent from the footer is left out of the read, so
    a query that needs it fails at analysis: it never reads as NULL.
    """
    declared = {f.name: f for f in TABLES[name].fields}
    fields, nanos, bad = [], [], []
    for col, typ in stored.items():
        want = declared.get(col)
        if want is None:
            bad.append(f"{col}: stored {typ.simpleString()}, catalog none")
        elif isinstance(want.dataType, T.TimestampNTZType) and isinstance(
            typ, T.LongType
        ):
            nanos.append(col)
            fields.append(T.StructField(col, typ))
        elif typ.simpleString() != want.dataType.simpleString():
            bad.append(
                f"{col}: stored {typ.simpleString()}, "
                f"catalog {want.dataType.simpleString()}"
            )
        else:
            fields.append(want)
    if bad:
        absent = [
            f"{c} {f.dataType.simpleString()}"
            for c, f in declared.items()
            if c not in stored
        ]
        raise ValueError(
            f"table {name!r} at {path} disagrees with the catalog: "
            + "; ".join(bad)
            + (f" (catalog columns not stored: {', '.join(absent)})"
               if absent else "")
        )
    return T.StructType(fields), nanos


def load_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = False
) -> DataFrame:
    """Read one testdata table under its ``TABLES`` schema.

    Spark gets the schema, so the read runs no schema-inference job.  On
    a local path the driver reads each file's parquet footer with pyarrow
    instead (well under a millisecond per file), and that one read
    serves three needs:

    - the catalog check: a stored column the catalog does not know, or
      one stored as another type, raises ``ValueError`` naming the
      table, the column and both types (see ``_read_schema``; without
      it a declared schema would read a renamed column as NULLs);
    - the nanos branch: Spark 4 refuses unadjusted TIMESTAMP(NANOS)
      unless ``nanosAsLong`` is on (the session contract,
      ``ensure_engine_confs``), so a column the footer stores as nanos
      is read as bigint and rebuilt as the catalog's ``timestamp_ntz``,
      truncated to micros (the truncation DuckDB applies);
    - ``widen`` (below) counts row groups and bytes from the same
      footers.

    On a path the driver cannot read locally (another URI scheme, or no
    parquet file at the local path) the read infers the schema as Spark
    always did, one footer job, and checks it against the catalog the
    same way; a missing path still fails in Spark's read.

    ``widen=True`` — for consumers that MATERIALIZE the whole table
    (full-star denormalization, corpus-wide aggregates): when the
    footers show fewer real row groups than half the session's cores,
    round-robin repartition at the source so the downstream join/metric
    pipeline doesn't run on the scan's 1-2 real tasks (see
    ``_scan_units``; byte-range split counts are fake on few-row-group
    files).  Selective consumers (year-slice analytics) must NOT widen:
    the exchange writes the full table from the one real scan task,
    which costs more than their filtered remainder.  Predicate pushdown
    and column pruning survive (Catalyst pushes both through
    Repartition).  At warehouse scale row groups vastly outnumber cores
    and this is a structural no-op; results never depend on partitioning
    (exact/quantized arithmetic discipline).
    """
    import pyarrow.parquet as pq

    ensure_engine_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    files = _local_files(path)
    if files is None:
        df = spark.read.parquet(path)
        _, nanos = _read_schema(
            name, path, {f.name: f.dataType for f in df.schema.fields}
        )
        footers = []
    else:
        footers = [pq.read_metadata(f) for f in files]
        layouts = [
            _read_schema(name, str(f), _footer_types(md))
            for f, md in zip(files, footers)
        ]
        schema, nanos = layouts[0]
        if any(other != layouts[0] for other in layouts[1:]):
            raise ValueError(
                f"table {name!r} at {path}: its files store different columns"
            )
        df = spark.read.schema(schema).parquet(path)
    if nanos:
        df = df.withColumns(
            {
                c: F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast(
                    "timestamp_ntz"
                )
                for c in nanos
            }
        )
    if widen:
        target = spark.sparkContext.defaultParallelism
        rgs, nbytes = _scan_units(footers)
        if nbytes >= _FANOUT_MIN_BYTES and rgs < max(1, target // 2):
            df = df.repartition(target)
    return df
