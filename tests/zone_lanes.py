"""The four persisted zone lanes behind one test interface, so the
shared lifecycle contracts (`sources.zones`) run once per lane.

Each lane builds an index root over a small fixed corpus, serves a
fixed query as a set of row tuples, and compacts roots into an out
root.  Tombstoned lanes also delete ids and name the id in a served
row (``id_of``).  ``marker`` is the entry that makes a directory a
bare zone root of that lane.
"""

from __future__ import annotations

import functools

from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.operators import (
    aggzone,
    retrieval,
    similarity,
    trigram,
)
from proyecto_gasto_publico_etl_per__spark.sources import zones

from conftest import SF_SMOKE

DOCS_SCHEMA = "doc_id LONG, text STRING"
DOCS = [
    (1, "spark hash window scan"),
    (2, "hash window scan row"),
    (3, "merge spark window scan"),
    (4, "table value agg"),
    (5, "spark spark window scan"),
    (6, "hash merge"),
]


class BM25:
    marker = "postings"
    tombstoned = True

    @staticmethod
    def build(spark, root=None):
        docs = spark.createDataFrame(DOCS, DOCS_SCHEMA)
        return retrieval.build_bm25_index(spark, docs, root=root)

    @staticmethod
    def delete(spark, roots, ids):
        return retrieval.delete_from_bm25_index(spark, roots, ids)

    @staticmethod
    def serve(spark, roots):
        rows = retrieval.bm25_serve(spark, roots, ("spark", "hash", "window"))
        return {tuple(r) for r in rows.collect()}

    @staticmethod
    def id_of(row):
        return row[0]

    @staticmethod
    def compact(spark, roots, out):
        return retrieval.compact_bm25_index(spark, roots, out)


class Trigram:
    marker = "postings"
    tombstoned = True

    @staticmethod
    def build(spark, root=None):
        docs = spark.createDataFrame(DOCS, DOCS_SCHEMA)
        return trigram.build_trigram_index(spark, docs, root=root)

    @staticmethod
    def delete(spark, roots, ids):
        return trigram.delete_from_trigram_index(spark, roots, ids)

    @staticmethod
    def serve(spark, roots):
        docs = spark.createDataFrame(DOCS, DOCS_SCHEMA)
        rows = trigram.trigram_serve(spark, roots, "window sc", docs)
        return {tuple(r) for r in rows.collect()}

    @staticmethod
    def id_of(row):
        return row[0]

    @staticmethod
    def compact(spark, roots, out):
        return trigram.compact_trigram_index(spark, roots, out)


@functools.lru_cache(maxsize=None)
def _ann_model(spark):
    from proyecto_gasto_publico_etl_per__spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = similarity.ivf_centroids(emb, "vec_id", "embedding", 8)
    cb = similarity.sampled_codebook(emb, "vec_id", "embedding", 16, 8)
    return emb, cents, cb


class ANN:
    marker = "index_assigned"
    tombstoned = True

    @staticmethod
    def build(spark, root):
        emb, cents, cb = _ann_model(spark)
        root, _ = zones.build_root(root, "ann_index_")
        assigned, codes = similarity.ivf_pq_build_index(
            emb, n_centroids=8, m=16, n_codes=8, codebook=cb, centroids=cents
        )
        assigned.write.mode("overwrite").parquet(f"{root}/index_assigned")
        codes.write.mode("overwrite").parquet(f"{root}/index_codes")
        return root

    @staticmethod
    def delete(spark, roots, ids):
        [base] = roots
        return similarity.delete_from_ann_index(spark, base, ids)

    @staticmethod
    def serve(spark, roots):
        [base] = roots
        emb, cents, cb = _ann_model(spark)
        tomb = zones.read_tombstones(
            spark, [base], similarity.ANN_TOMBSTONES_SCHEMA
        )
        rows = similarity.ivf_pq_search(
            emb,
            emb.filter(F.col("vec_id") < 3),
            k=5,
            n_centroids=8,
            nprobe=4,
            m=16,
            n_codes=8,
            rerank=8,
            codebook=cb,
            centroids=cents,
            index=(
                spark.read.parquet(f"{base}/index_assigned"),
                spark.read.parquet(f"{base}/index_codes"),
            ),
            tombstones=tomb,
        )
        return {tuple(r) for r in rows.collect()}

    @staticmethod
    def id_of(row):
        return row[1]

    @staticmethod
    def compact(spark, roots, out):
        [base] = roots
        return similarity.compact_ann_index(spark, base, out)


class AggZone:
    marker = "spec.json"
    tombstoned = False

    @staticmethod
    def build(spark, root=None):
        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "g STRING, v INT"
        )
        return aggzone.build_agg_zone(
            spark, df, keys=["g"], sums=["v"], root=root
        )

    @staticmethod
    def serve(spark, roots):
        return {tuple(r) for r in aggzone.serve_agg(spark, roots).collect()}

    @staticmethod
    def compact(spark, roots, out):
        return aggzone.compact_agg_zones(spark, roots, out)


LANES = {"bm25": BM25, "trigram": Trigram, "ann": ANN, "aggzone": AggZone}
TOMBSTONED = [name for name, lane in LANES.items() if lane.tombstoned]
