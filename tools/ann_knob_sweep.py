"""Recall/latency sweep for the IVF-PQ serving knobs (rounds 8-9).

Measures, at a given sf dir, recall@5 vs brute-force ground truth and
wall time of ``similarity.ivf_pq_search`` across (n_centroids, nprobe)
at the serving geometry (m=16, n_codes=16), for raw- and
residual-encoded codes, with sample-init or trained artifacts.  One
JSON line per knob point; paste the ladder into SCALE.md.

Usage: python tools/ann_knob_sweep.py [sf_dir] [--grid c:p,c:p,...]
           [--residual] [--both] [--trained] [--rerank N]
           [--write-manifest BASE]

``--write-manifest BASE`` switches to the production mode: load the
persisted artifacts under a model-store BASE (centroids / codebook /
index zones — the ann_ivf_pq_serving layout), measure the recall
ladder over the --grid nprobe values ON that index, and merge the
ladder into BASE/manifest so ``ivf_pq_search(target_recall=...)`` can
resolve nprobe from measurement (similarity.resolve_nprobe).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.operators import similarity
from proyecto_gasto_publico_etl_per__spark.session import get_spark
from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    grid = [(16, 4), (16, 8), (16, 16), (32, 8), (32, 16)]
    if "--grid" in sys.argv:
        raw = sys.argv[sys.argv.index("--grid") + 1]
        grid = [
            tuple(int(x) for x in pair.split(":")) for pair in raw.split(",")
        ]
    rerank = 16
    if "--rerank" in sys.argv:
        rerank = int(sys.argv[sys.argv.index("--rerank") + 1])
    if "--both" in sys.argv:
        residual_modes = [False, True]
    elif "--residual" in sys.argv:
        residual_modes = [True]
    else:
        residual_modes = [False]
    trained = "--trained" in sys.argv
    spark: SparkSession = get_spark()
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)

    if "--write-manifest" in sys.argv:
        base = sys.argv[sys.argv.index("--write-manifest") + 1]
        _write_manifest_ladder(
            spark, emb, probes, base, sorted({p for _, p in grid}), rerank
        )
        return
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, probes, k=5).collect()
    }
    for n_centroids, nprobe in grid:
        # serving parity: explicit artifacts (the post-round-8 index
        # contract); sample-init by default, kmeans/Lloyd with --trained
        cents = similarity.ivf_centroids(
            emb, "vec_id", "embedding", n_centroids
        )
        pairs = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in cents
        ]
        if trained:
            pairs = similarity.kmeans_refine(
                emb, "vec_id", "embedding", n_centroids, iters=3
            )
        for residual in residual_modes:
            if residual:
                cent_lit = similarity.centroid_sql(pairs)
                resid = similarity.residualize(
                    similarity.ivf_assign(
                        emb.select("vec_id", "embedding"),
                        cent_lit,
                        "embedding",
                    ),
                    cent_lit,
                    "embedding",
                )
                cb_src, cb_vec = resid, "rvec"
            else:
                cb_src, cb_vec = emb, "embedding"
            if trained:
                cb = similarity.pq_train_codebook(
                    cb_src, "vec_id", cb_vec, 16, 16, n_iters=3
                )
            else:
                cb = similarity.sampled_codebook(
                    cb_src, "vec_id", cb_vec, 16, 16
                )
            t0 = time.monotonic()
            got = {
                (r.query_id, r.neighbor_id)
                for r in similarity.ivf_pq_search(
                    emb,
                    probes,
                    k=5,
                    nprobe=nprobe,
                    m=16,
                    n_codes=16,
                    rerank=rerank,
                    codebook=cb,
                    centroids=pairs,
                    residual=residual,
                ).collect()
            }
            dt = time.monotonic() - t0
            recall = len(got & truth) / max(1, len(truth))
            print(
                json.dumps(
                    {
                        "n_centroids": n_centroids,
                        "nprobe": nprobe,
                        "rerank": rerank,
                        "residual": residual,
                        "trained": trained,
                        "recall_at_5": round(recall, 4),
                        "sec": round(dt, 2),
                        "sf_dir": sf_dir,
                    }
                ),
                flush=True,
            )


def _write_manifest_ladder(
    spark, emb, probes, base: str, nprobes: list[int], rerank: int
) -> None:
    """Production mode: measure the ladder on the PERSISTED index under
    ``base`` and merge it into the manifest.  Delegates to
    ``similarity.remeasure_manifest_ladder`` (shared with the
    ann-append-index --remeasure-ladder CLI path): geometry and the
    serving rerank come from the manifest (the CLI flag is only the
    fallback for manifests written before rerank was recorded), the
    manifest kind round-trips, and the fresh ``ladder_index_n``
    staleness anchor is stamped alongside the ladder."""
    manifest = similarity.remeasure_manifest_ladder(
        spark, emb, probes, base,
        nprobes=tuple(nprobes), fallback_rerank=rerank,
    )
    print(
        json.dumps(
            {
                "manifest": f"{base}/manifest",
                "ladder": manifest["recall_ladder"],
            }
        )
    )


if __name__ == "__main__":
    main()
