"""The frozen-artifact staleness contract, pinned in ONE place.

Two paths dedup/encode arriving batches against a FROZEN artifact built
from the already-indexed corpus:

- LSH admission vs the frozen bucket-signature history
  (``operators/dedup.band_signatures``),
- IVF-PQ delta encoding vs frozen centroids/codebook
  (``operators/similarity.ivf_pq_index_append``).

Both share the SAME approximation: duplication (or drift) that
exists only WITHIN the un-indexed arrivals — including a batch arriving
twice before any artifact refresh — is UNSEEN until the artifact's next
rebuild.  This test loads batch B twice against each frozen artifact
and asserts the documented miss, then asserts the rebuild heals it.
The shared contract is documented in SCALE.md §"Frozen-artifact
serving: the staleness contract".
"""

from __future__ import annotations

from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.operators import dedup, similarity
from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table


def test_frozen_artifact_staleness_contract(spark):
    boiler = "subscribe to our newsletter for weekly updates"
    corpus = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler} delta"),
            (2, f"{boiler} other early content here today"),
        ],
        "doc_id INT, text STRING",
    )
    # batch B duplicates ITSELF (docs 10/11 share a span A never saw)
    intra = "brand new within batch duplicated span here"
    batch = spark.createDataFrame(
        [
            (10, f"first copy says {intra} end"),
            (11, f"second copy says {intra} too"),
        ],
        "doc_id INT, text STRING",
    )

    # ── LSH admission: frozen bucket history re-admits a replay ─────
    frozen_buckets = (
        dedup.band_signatures(corpus).select("band", "band_sig").distinct()
    )
    sigs_b = dedup.band_signatures(batch)

    def colliding(hist):
        return {
            r.doc
            for r in sigs_b.join(
                hist, ["band", "band_sig"], "left_semi"
            ).collect()
        }

    # first arrival: no collision with A's history → both admitted
    assert colliding(frozen_buckets) == set()
    # SECOND arrival of the same batch against the STILL-frozen table:
    # again no collision — the replay is re-admitted (the miss: between
    # artifact refreshes the batch primitive cannot see B)
    assert colliding(frozen_buckets) == set()
    # rebuild heals: history including B's signatures drops the replay
    rebuilt = (
        frozen_buckets.unionByName(
            sigs_b.select("band", "band_sig")
        ).distinct()
    )
    assert colliding(rebuilt) == {10, 11}

    # ── IVF-PQ append: frozen artifacts re-encode a replayed delta ──
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.ivf_centroids(emb, "vec_id", "embedding", 8)
    pairs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in cents
    ]
    cb = similarity.sampled_codebook(emb, "vec_id", "embedding", 4, 16)
    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(
        (F.col("vec_id") >= 400) & (F.col("vec_id") < 420)
    )
    a_zone, _ = similarity.ivf_pq_build_index(
        base, codebook=cb, centroids=pairs
    )
    a1, _ = similarity.ivf_pq_index_append(delta, cb, pairs)
    a2, _ = similarity.ivf_pq_index_append(delta, cb, pairs)
    merged = a_zone.unionByName(a1).unionByName(a2)
    dup_ids = (
        merged.groupBy("neighbor_id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup_ids == 20  # the documented miss: append-mode duplicates
    # the documented route heals: anti-join the replay against the
    # already-assigned zone before appending
    seen = a_zone.unionByName(a1).select("neighbor_id")
    fresh = delta.join(
        seen.withColumnRenamed("neighbor_id", "vec_id"), "vec_id", "left_anti"
    )
    assert fresh.count() == 0  # nothing left to append on replay
