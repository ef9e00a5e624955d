"""CSV source with per-file encoding detection and malformed-line tolerance.

Reference behavior (ETL Gasto publico Perú/etl/transformar_mensual.py:131-179):
read ``dtype=str`` in 300k-row chunks with ``sep=","``, ``quotechar='"'``,
``on_bad_lines="skip"``, trying encodings utf-8 → utf-8-sig → latin-1 and a
python-engine fallback PER FILE — the python-engine retry *re-parses* lines
the C engine rejects, so the reference loses very few rows and does so
visibly (warnings).

Spark restatement: the encoding choice is driver-side metadata discovery —
a byte sniff of each file's head (BOM check + strict utf-8 decode), never a
Spark action.  Spark's CSV reader cannot be probed for a wrong encoding:
invalid UTF-8 bytes decode to U+FFFD replacement characters instead of
raising, so a latin-1 'Educación' would silently become mojibake.  Files
are grouped by detected encoding into one lazy scan per group (chunking is
subsumed by the partitioned file scan; the utf-8-sig BOM is consumed
natively by Spark's UTF-8 reader) and the groups union by name — the Spark
shape of the reference's per-file encoding retry.

Malformed lines follow a loud-failure discipline, NOT a silent
``DROPMALFORMED``: each scan parses PERMISSIVE into
an explicit all-string schema (header read driver-side during the sniff)
plus a ``_corrupt_record`` capture column, and the load fails when the
bad-line ratio crosses a threshold.  Rows a quote-mangled line would have
produced either land (null-padded, Spark's recovering parse) or are
counted — never silently vanish.
"""

from __future__ import annotations

import csv as _csv
import io
import re
from collections.abc import Iterable
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the capture column of a PERMISSIVE scan's unparseable lines
CORRUPT_COL = "_corrupt_record"

#: transformar_mensual.py:131: utf-8 first (BOM variant handled natively),
#: then latin-1 — the only two encodings MEF extracts arrive in.
ENCODINGS: tuple[str, ...] = ("UTF-8", "ISO-8859-1")

#: head bytes per file for the driver-side encoding sniff.  4 MiB of
#: Spanish-language text virtually guarantees an accented byte when the
#: file is latin-1; at warehouse scale this is one small ranged read per
#: file of driver-side metadata work, not dataflow.
SNIFF_BYTES = 4 << 20


def corruption_stats(df: DataFrame) -> tuple[int, int]:
    """(total rows, corrupt rows) in ONE scan — a single conditional-sum
    aggregate, no second job (same discipline as
    ``operators/expectations``).

    EVERY schema column is referenced in the aggregate, for two reasons:
    a plan referencing ONLY ``_corrupt_record`` over a raw scan is
    rejected by Spark (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and — subtler —
    CSV/JSON parsers under column pruning only parse the referenced
    fields, so a row malformed past the referenced prefix would never be
    flagged corrupt.  Referencing all columns forces the full-row parse
    that corruption detection requires; the counts themselves are free.
    """
    others = [c for c in df.columns if c != CORRUPT_COL]
    row = df.agg(
        F.count("*").alias("total"),
        F.count(F.col(CORRUPT_COL)).alias("bad"),
        *[
            F.count(F.col(c)).alias(f"_w{i}")
            for i, c in enumerate(others)
        ],
    ).collect()[0]
    return int(row["total"]), int(row["bad"])


def detect_encoding(path: str | Path, sample_bytes: int = SNIFF_BYTES) -> str:
    """Driver-side byte sniff: BOM → UTF-8 (Spark strips it); head decodes
    as strict utf-8 → UTF-8; otherwise ISO-8859-1 (latin-1 decodes any
    byte, the reference's last-resort ordering).  A multi-byte sequence
    cut at the sample boundary is not misread as latin-1."""
    with Path(path).open("rb") as fh:
        raw = fh.read(sample_bytes)
    if raw.startswith(b"\xef\xbb\xbf"):
        return "UTF-8"
    try:
        raw.decode("utf-8")
        return "UTF-8"
    except UnicodeDecodeError as err:
        truncated = len(raw) == sample_bytes and err.start >= len(raw) - 4
        return "UTF-8" if truncated else "ISO-8859-1"

#: transformar_mensual.py:112-118: yearly extract filenames, daily files
#: excluded.
YEAR_FILE_RE = re.compile(r"^(20\d{2})-Gasto(-Mensual)?\.csv$", re.IGNORECASE)


def discover_year_files(
    raw_dir: str | Path,
    years: Iterable[int] | None = None,
) -> list[Path]:
    """SRC5/FLT8/SRT4 — glob the raw zone for yearly extracts, keep files
    matching the ``<year>-Gasto[-Mensual].csv`` pattern (never ``Diario``),
    optionally restricted to requested years, sorted by (year, name) —
    the reference CLI's file-planning step
    (transformar_mensual.py:208-224)."""
    wanted = set(years) if years else None
    found: list[tuple[int, str, Path]] = []
    for p in Path(raw_dir).glob("*.csv"):
        m = YEAR_FILE_RE.match(p.name)
        if not m or "diario" in p.name.lower():
            continue
        year = int(m.group(1))
        if wanted is not None and year not in wanted:
            continue
        found.append((year, p.name, p))
    return [p for _, _, p in sorted(found)]


def read_header(path: str | Path, encoding: str) -> list[str]:
    """Driver-side header read (one small ranged read, like the encoding
    sniff): the first CSV record of the file, parsed with the csv module
    so quoted column names survive.  Reads in 64 KiB steps until a
    newline lands (8 MiB cap) so an oversized header record is never
    silently truncated mid-column."""
    chunks: list[bytes] = []
    size = 0
    with Path(path).open("rb") as fh:
        while True:
            chunk = fh.read(64 * 1024)
            if not chunk:
                break
            chunks.append(chunk)
            size += len(chunk)
            if b"\n" in chunk or size >= (8 << 20):
                break
    text = b"".join(chunks).decode(
        encoding.replace("UTF-8", "utf-8-sig"), errors="replace"
    )
    reader = _csv.reader(io.StringIO(text), delimiter=",", quotechar='"')
    return next(reader, [])


def _scan(
    spark: SparkSession,
    files: list[str],
    encoding: str,
    header: list[str] | None = None,
) -> DataFrame:
    """One PERMISSIVE all-string scan per (encoding, header) group with a
    ``_corrupt_record`` audit column — the schema comes from a
    driver-side header read, because Spark only captures corrupt CSV
    records into an explicitly-provided schema column.  Callers that
    scan multiple files must group them by header first (header rows are
    skipped positionally, not matched by name, so a shared schema applied
    to a file with a different column ORDER lands values in the wrong
    columns)."""
    if header is None:
        header = read_header(files[0], encoding)
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in header]
        + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("encoding", encoding)
        .csv(files)
    )


def read_monthly_csv(
    spark: SparkSession,
    path: str | list[str],
    sample_bytes: int = SNIFF_BYTES,
    max_corrupt_ratio: float = 0.01,
    keep_corrupt: bool = False,
) -> DataFrame:
    """All-string CSV scan (SRC1/SRC2): header row, quoted fields, types
    deferred to normalization (schema-on-read), malformed lines counted
    and gated — never silently dropped.

    ``path`` may be one file, a directory, or a list.  Each file's
    encoding is detected independently (``detect_encoding``) and files
    group into one lazy scan per encoding; groups union by name with
    NULL-fill for columns a file set lacks — per-file headers conform
    independently, exactly like the reference's per-file pandas reads
    (missing expected columns are later NULL-conformed by
    ``normalize.conform_schema``).

    Malformed-line accounting mirrors the reference's recovering re-parse
    (transformar_mensual.py:152-179) in visibility: lines Spark cannot
    conform land with the raw line in ``_corrupt_record``; the load
    raises when the corrupt ratio exceeds ``max_corrupt_ratio``, else the
    surviving corrupt rows are dropped (the reference's
    ``on_bad_lines="skip"`` end state) with the count established first.
    ``keep_corrupt=True`` returns the audit column for inspection.
    """
    if isinstance(path, list):
        files = [str(p) for p in path]
    elif Path(path).is_dir():
        files = [str(p) for p in sorted(Path(path).glob("*.csv"))]
    else:
        files = [str(path)]
    if not files:
        raise ValueError(f"no CSV files under {path}")
    # group by (encoding, header): header rows are skipped positionally
    # by the CSV reader, so two files sharing an encoding but differing
    # in column ORDER must scan separately (they then conform BY NAME in
    # the union) — one shared schema would land values in wrong columns
    groups: dict[tuple[str, tuple[str, ...]], list[str]] = {}
    for f in files:
        enc = detect_encoding(f, sample_bytes)
        hdr = tuple(read_header(f, enc))
        groups.setdefault((enc, hdr), []).append(f)
    scans = [
        _scan(spark, grp_files, enc, list(hdr))
        for (enc, hdr), grp_files in sorted(groups.items())
    ]
    df = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), scans
    )
    if keep_corrupt:
        return df
    total, bad = corruption_stats(df)
    if total > 0 and bad / total > max_corrupt_ratio:
        raise ValueError(
            f"CSV corruption ratio {bad}/{total} exceeds "
            f"{max_corrupt_ratio:%} — refusing to load; re-read with "
            f"keep_corrupt=True and inspect `{CORRUPT_COL}` rows"
        )
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def sniff_csv(path: str | Path, sample_bytes: int = 64 * 1024) -> list[str]:
    """Separator/encoding sniffing report — the reference README documents
    a ``comprobacion.py`` utility for this that its repo never shipped
    (README.md:190-196); this is that tool.  Driver-side metadata probe
    over the first ``sample_bytes`` only.
    """
    raw = Path(path).open("rb").read(sample_bytes)
    enc = "UTF-8"
    if raw.startswith(b"\xef\xbb\xbf"):
        enc = "UTF-8-SIG"
    else:
        try:
            raw.decode("utf-8")
        except UnicodeDecodeError:
            enc = "ISO-8859-1"
    text = raw.decode(enc.replace("-SIG", ""), errors="replace")
    header = text.splitlines()[0] if text else ""
    seps = {s: header.count(s) for s in (",", ";", "\t", "|")}
    sep = max(seps, key=seps.get)
    return [
        f"encoding: {enc}",
        f"separator: {sep!r} (counts: {seps})",
        f"columns: {len(header.split(sep)) if header else 0}",
        f"header: {header[:120]}",
    ]
