"""Binary-payload column plumbing.

An asset is an opaque ``binary`` payload with typed metadata.  Feature
extraction is the deterministic md5 stand-in, written as built-in column
expressions so the plan stays relational: no row crosses into Python.
The engine decodes no media; the stdlib image codecs are retired (the
source paper reads no images).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_features(assets: DataFrame, dim: int = 4) -> DataFrame:
    """``asset_id``, ``n_bytes``, ``byte_md5`` and ``features``: ``dim``
    doubles, byte i of the payload's md5 / 255 (the formula the DuckDB
    oracle reproduces).  A NULL payload yields NULL in every column but
    ``asset_id``."""
    md5 = F.md5("payload")
    features = F.array(
        *[
            F.conv(F.substring(md5, 2 * i + 1, 2), 16, 10).cast("int")
            / F.lit(255.0)
            for i in range(dim)
        ]
    )
    return assets.select(
        F.col("asset_id").cast("long").alias("asset_id"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        md5.alias("byte_md5"),
        F.when(md5.isNotNull(), features).alias("features"),
    )


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque payload so the
    plumbing can be exercised (and oracle-checked) on the synthetic
    ``documents`` table."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )
