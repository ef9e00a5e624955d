"""Text-cleaning / labeling column expressions.

Reference semantics reproduced here:

- ``limpiar_texto`` (ETL Gasto publico Perú/etl/transformar_mensual.py:91-94):
  NULL → "" → str → strip → collapse runs of whitespace to one space.
- placeholder labels ``COALESCE(NULLIF(TRIM(x),''), 'SIN …')``
  (sql/CreacionDeUsuariosyVistas.sql:127-133, 166-170).
- map-label composition ``'Departamento de ' || dep || ', Perú'``
  (sql/CreacionDeUsuariosyVistas.sql:136-140, 171-175).

All are pure Spark column expressions — whole-stage-codegen friendly, no
Python serialization boundary (SURVEY.md §2.12: zero UDFs needed).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = r"\s+"


def clean_text(col: Column | str) -> Column:
    """NULL-safe strip + whitespace-collapse (PRJ5).

    Collapse FIRST, then trim: ``trim`` removes only spaces (0x20), so a
    leading tab/newline must become a space before trimming or it
    survives one pass — Python's ``str.strip()`` (the reference,
    transformar_mensual.py:93) strips all whitespace in one go, and this
    order matches it.  Property-tested idempotent over arbitrary unicode.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.coalesce(c.cast("string"), F.lit("")), _WS, " ")
    )


def label_or_placeholder(col: Column | str, placeholder: str) -> Column:
    """Empty-or-null label → fixed placeholder (FN5).

    Mirrors the two-step contract SURVEY.md §7.4 calls out: the transform
    turns NULL into "" (transformar_mensual.py:92), the views turn "" into
    the placeholder — so group keys never split between NULL and "".
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.nullif(F.trim(c), F.lit("")), F.lit(placeholder))


def region_map_label(dep_col: Column | str, placeholder: str = "SIN DEPARTAMENTO") -> Column:
    """``region_mapa`` composition for map visuals (FN6)."""
    return F.concat(
        F.lit("Departamento de "),
        label_or_placeholder(dep_col, placeholder),
        F.lit(", Perú"),
    )
