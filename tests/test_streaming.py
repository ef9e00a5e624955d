"""Streaming tests: the event-time operators of streaming/incremental.py and
the batch operators run per micro-batch inside ``foreachBatch``."""

from __future__ import annotations

from pyspark.sql import functions as F

from proyecto_gasto_publico_etl_per__spark.streaming.incremental import (
    windowed_event_counts,
)


def test_windowed_event_counts_matches_batch_groupby(spark):
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    windowed = windowed_event_counts(ev)
    direct = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    w = {
        (str(r.window_start), r.event_type): r.n_events
        for r in windowed.collect()
    }
    d = {
        (str(r.window_start), r.event_type): r.n_events
        for r in direct.collect()
    }
    assert w == d


def test_session_window_agg_matches_declared_sessionize(spark):
    """The native session_window operator must produce the same sessions
    as the declared lag/sum sessionize query (same gap, same events):
    identical (user, start, end, n_events) multisets."""
    from proyecto_gasto_publico_etl_per__spark.plans.driver_queries import (
        all_queries,
    )
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table
    from proyecto_gasto_publico_etl_per__spark.streaming.incremental import (
        session_window_agg,
    )

    sf = "/root/testdata/sf0.001"
    native = session_window_agg(load_table(spark, sf, "events"))
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in native.collect()
    }
    declared = all_queries()["sessionize"](spark, sf)
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in declared.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        ).collect()
    }
    # normalize native timestamps to the same second-precision render
    got = {(u, s[:19], e[:19], n) for u, s, e, n in got}
    assert got == want


def test_session_window_agg_streaming_runs(spark, tmp_path):
    """Same operator on a stream: watermarked, append-mode, sessions
    closed by the watermark — smoke the streaming path end-to-end."""
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table
    from proyecto_gasto_publico_etl_per__spark.streaming.incremental import (
        session_window_agg,
    )

    src = str(tmp_path / "src")
    load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = session_window_agg(stream, watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_native")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits sessions the watermark has closed; with
    # AvailableNow the final watermark still holds back the tail — the
    # smoke check is that the query ran and the sink is queryable
    assert spark.table("sess_native").columns == [
        "user_id",
        "session_start",
        "session_end",
        "n_events",
    ]


def test_ann_search_at_ingest(spark, tmp_path):
    """ANN serving composes with streaming ingest (round 7, the
    ``dsir_score_at_ingest`` pattern for the vector side): an IVF-PQ
    index built once (batch, persisted) serves arriving query-vector
    micro-batches inside foreachBatch, and the streamed results are
    identical to batch-searching the same queries."""
    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    kw = dict(k=3, n_centroids=8, nprobe=4, m=4, n_codes=16, rerank=4)
    cents = similarity.ivf_centroids(emb, "vec_id", "embedding", 8)
    pairs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cents
    ]
    cb = similarity.sampled_codebook(emb, "vec_id", "embedding", 4, 16)
    assigned, codes = similarity.ivf_pq_build_index(
        emb, n_centroids=8, m=4, n_codes=16, codebook=cb, centroids=pairs
    )
    assigned.write.parquet(str(tmp_path / "assigned"))
    codes.write.parquet(str(tmp_path / "codes"))

    queries = emb.orderBy("vec_id").limit(4).collect()
    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    rows = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in queries]
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(rows[:2], schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(rows[2:], schema).coalesce(1).write.parquet(
        str(src / "b2")
    )
    out_dir = str(tmp_path / "results")

    def search_batch(batch_df, _epoch):
        index = (
            spark.read.parquet(str(tmp_path / "assigned")),
            spark.read.parquet(str(tmp_path / "codes")),
        )
        similarity.ivf_pq_search(
            emb, batch_df, codebook=cb, centroids=pairs, index=index, **kw
        ).write.mode("append").parquet(out_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .writeStream.foreachBatch(search_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = {
        (r.query_id, r.neighbor_id, r.score_q3, r.rk)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.query_id, r.neighbor_id, r.score_q3, r.rk)
        for r in similarity.ivf_pq_search(
            emb,
            spark.createDataFrame(rows, schema),
            codebook=cb,
            centroids=pairs,
            index=(
                spark.read.parquet(str(tmp_path / "assigned")),
                spark.read.parquet(str(tmp_path / "codes")),
            ),
            **kw,
        ).collect()
    }
    assert streamed == batch
    assert {q for q, *_ in streamed} == {r[0] for r in rows}


def test_dsir_score_at_ingest(spark, tmp_path):
    """DSIR scoring composes with streaming ingest: a model trained
    once (batch) scores arriving micro-batches inside foreachBatch, and
    the streamed scores are identical to batch-scoring the same docs."""
    from pyspark.sql import functions as F

    from proyecto_gasto_publico_etl_per__spark.operators import model_store
    from proyecto_gasto_publico_etl_per__spark.operators.curation import (
        dsir_score,
        dsir_train,
    )

    train_df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "t"),
            (2, "the cat ran up the hill", "t"),
            (3, "zig zag zog grok blorp", "r"),
            (4, "alpha beta gamma delta", "r"),
        ],
        "doc_id LONG, text STRING, grp STRING",
    )
    model = dsir_train(train_df, F.col("grp") == "t")
    path = str(tmp_path / "model")
    model_store.save_dsir(spark, path, model)
    loaded = model_store.load_dsir(spark, path)

    schema = "doc_id LONG, text STRING"
    arrivals = [
        (10, "the cat sat quietly"),
        (11, "zig zag unrelated blorp"),
        (12, "entirely novel words only"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(arrivals[:2], schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(arrivals[2:], schema).coalesce(1).write.parquet(
        str(src / "b2")
    )
    out_dir = str(tmp_path / "scored")

    def score_batch(batch_df, _epoch):
        dsir_score(batch_df, loaded).write.mode("append").parquet(out_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = {
        r.doc_id: (r.n_feats, r.weight_micro)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        r.doc_id: (r.n_feats, r.weight_micro)
        for r in dsir_score(
            spark.createDataFrame(arrivals, schema), loaded
        ).collect()
    }
    assert streamed == batch
    # target-like arrival outranks the raw-like and the all-novel one
    assert streamed[10][1] > streamed[11][1]
    assert streamed[12][0] > 0  # novel words scored via the default


def test_ivf_pq_index_maintenance_at_ingest(spark, tmp_path):
    """Streaming index maintenance: vector batches arriving on a stream
    are encoded with the FROZEN artifacts and appended to the index
    zones (foreachBatch + ivf_pq_index_append); after the stream drains,
    serving over the accumulated zones equals serving over a one-shot
    batch build of the full corpus — the production refresh loop where
    new vectors land in the index at ingest cadence."""
    from pyspark.sql import functions as F

    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.ivf_centroids(emb, "vec_id", "embedding", 8)
    pairs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in cents
    ]
    cb = similarity.sampled_codebook(emb, "vec_id", "embedding", 4, 16)

    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    rows = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.collect()
    ]
    src = tmp_path / "src"
    src.mkdir()
    third = len(rows) // 3
    for i, chunk in enumerate(
        (rows[:third], rows[third : 2 * third], rows[2 * third :])
    ):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    a_dir = str(tmp_path / "zone_assigned")
    c_dir = str(tmp_path / "zone_codes")

    def index_batch(batch_df, _epoch):
        assigned, codes = similarity.ivf_pq_index_append(batch_df, cb, pairs)
        assigned.write.mode("append").parquet(a_dir)
        codes.write.mode("append").parquet(c_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .writeStream.foreachBatch(index_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    queries = emb.orderBy("vec_id").limit(4)
    kw = dict(k=3, nprobe=4, m=4, n_codes=16, rerank=8,
              codebook=cb, centroids=pairs)
    streamed_index = (
        spark.read.parquet(a_dir),
        spark.read.parquet(c_dir),
    )
    via_stream = {
        tuple(r)
        for r in similarity.ivf_pq_search(
            emb, queries, index=streamed_index, **kw
        ).collect()
    }
    a_full, c_full = similarity.ivf_pq_build_index(
        emb, codebook=cb, centroids=pairs
    )
    via_batch = {
        tuple(r)
        for r in similarity.ivf_pq_search(
            emb, queries, index=(a_full, c_full), **kw
        ).collect()
    }
    assert via_stream == via_batch
    # the accumulated zone really holds the whole corpus exactly once
    n = spark.read.parquet(a_dir).count()
    assert n == emb.count()


def test_sq8_encode_at_ingest(spark, tmp_path):
    """SQ8 encoding composes with streaming ingest: vectors arriving on
    a stream encode with the FROZEN corpus min/max artifact
    (foreachBatch), and the accumulated codes equal a one-shot batch
    encode — the quantizer is a model artifact, not a per-batch
    derivation (a per-batch min/max would silently re-scale every
    batch differently)."""
    from pyspark.sql import functions as F

    from proyecto_gasto_publico_etl_per__spark.operators import similarity
    from proyecto_gasto_publico_etl_per__spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    minmax = similarity.sq8_minmax(emb)

    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    rows = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.limit(60).collect()
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate((rows[:20], rows[20:40], rows[40:])):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    out_dir = str(tmp_path / "codes")

    def encode_batch(batch_df, _epoch):
        similarity.sq8_encode(batch_df, minmax=minmax).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .writeStream.foreachBatch(encode_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = {
        r.vec_id: list(r.codes)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        r.vec_id: list(r.codes)
        for r in similarity.sq8_encode(
            spark.createDataFrame(rows, schema), minmax=minmax
        ).collect()
    }
    assert streamed == batch


def test_bm25_compaction_preserves_serving(spark, tmp_path):
    """Folding base/delta roots into one compacted root (zone-level
    re-sums, no re-tokenize) must not change serving output."""
    from proyecto_gasto_publico_etl_per__spark.operators.retrieval import (
        bm25_serve,
        build_bm25_index,
        compact_bm25_index,
    )
    from proyecto_gasto_publico_etl_per__spark.plans.extension_queries import (
        _BM25_TERMS,
    )

    schema = "doc_id LONG, text STRING"
    parts = [
        [(1, "spark hash merge spark table"), (2, "hash value row scan")],
        [(3, "merge merge spark"), (4, "table value agg")],
        [(6, "spark spark spark hash merge hash")],
    ]
    roots = [
        build_bm25_index(spark, spark.createDataFrame(rows, schema))
        for rows in parts
    ]
    compacted = compact_bm25_index(
        spark, roots, str(tmp_path / "compacted")
    )
    multi = {
        tuple(r) for r in bm25_serve(spark, roots, _BM25_TERMS).collect()
    }
    single = {
        tuple(r)
        for r in bm25_serve(spark, [compacted], _BM25_TERMS).collect()
    }
    assert single == multi and len(single) == 4
