"""Tiny model-artifact persistence for the training loops.

The engine's trained models are deliberately driver-sized (DSIR
log-ratios, IVF centroids, PQ codebooks — KBs),
but a 100 TB pipeline still needs them durable and versioned between
stages: train once, score many runs, resume after restarts.  Rather than pickle (no
cross-version story) or JSON sidecar files (outside the warehouse's
storage layer), models persist as single-row parquet through the same
SparkSession that runs the pipeline — the zone discipline the corpus
builder already uses, applied to models.

Schema: one row, ``(kind, version, payload)`` with the payload as a
JSON string.  Parquet so the warehouse's storage/permissions/lifecycle
tooling sees models like any other table; JSON payload so the artifact
is human-inspectable and schema-evolution-proof.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession


def save_model(
    spark: SparkSession, path: str, kind: str, payload: Any, version: int = 1
) -> None:
    """Persist a driver-sized model artifact (overwrite = latest wins;
    use distinct paths for history)."""
    spark.createDataFrame(
        [(kind, version, json.dumps(payload))],
        "kind STRING, version INT, payload STRING",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_model(
    spark: SparkSession, path: str, kind: str | None = None
) -> tuple[Any, int]:
    """Load (payload, version); optionally assert the artifact kind so a
    codebook path handed to a logreg scorer fails loudly, not numerically."""
    rows = spark.read.parquet(path).collect()
    if len(rows) != 1:
        raise ValueError(f"model store at {path!r} has {len(rows)} rows")
    row = rows[0]
    if kind is not None and row.kind != kind:
        raise ValueError(
            f"model at {path!r} is kind={row.kind!r}, expected {kind!r}"
        )
    return json.loads(row.payload), row.version


def save_pq_codebook(spark: SparkSession, path: str, codebook) -> None:
    save_model(spark, path, "pq_codebook", codebook)


def load_pq_codebook(spark: SparkSession, path: str):
    payload, _ = load_model(spark, path, "pq_codebook")
    return payload


def save_dsir(spark: SparkSession, path: str, model: dict) -> None:
    """Persist a trained DSIR log-ratio model (curation.dsir_train)."""
    save_model(spark, path, "dsir_lr", model)


def load_dsir(spark: SparkSession, path: str) -> dict:
    payload, _ = load_model(spark, path, "dsir_lr")
    return payload
