"""Streaming = batch equivalence (SURVEY.md §5.2 item 5): the streaming
windows replayed over the events files must equal their batch twins (Q27 /
Q28), and late rows beyond the watermark must be dropped."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skripsi_mapreduce_spark.plans import QUERIES
from skripsi_mapreduce_spark.streaming.windows import (
    run_to_memory_sink,
    sessionized_counts,
    sliding_counts,
    stream_events,
    tumbling_counts,
)

from .conftest import SF_DIR


def test_tumbling_stream_equals_batch(spark):
    ev = stream_events(spark, SF_DIR)
    got = run_to_memory_sink(tumbling_counts(ev), "t_tumbling")
    batch = QUERIES["q27_tumbling_window"](spark, SF_DIR)
    g = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert g == b


def test_sliding_stream_equals_batch(spark):
    ev = stream_events(spark, SF_DIR)
    got = run_to_memory_sink(sliding_counts(ev), "t_sliding")
    batch = QUERIES["q42_sliding_window"](spark, SF_DIR)
    g = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert g == b


def test_session_stream_equals_batch_session_count(spark):
    ev = stream_events(spark, SF_DIR)
    got = run_to_memory_sink(sessionized_counts(ev), "t_sessions")
    per_user = got.groupBy("user_id").agg(F.count("*").cast("bigint").alias("n_sessions"))
    batch = QUERIES["q28_sessionization"](spark, SF_DIR)
    g = sorted(tuple(r) for r in per_user.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert g == b


def test_watermark_drops_late_rows(spark, tmp_path):
    """Replay a two-file sequence where the second file's rows are older
    than the watermark horizon established by the first; the late rows
    must not appear in the result (append mode emits only closed,
    on-time windows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(path, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 1_000_000_000 for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, path)

    base = 1_700_000_000  # arbitrary epoch
    d = tmp_path / "stream"
    d.mkdir()
    import time as _time

    # file 1: events at t=0h and t=6h -> watermark will advance to 5h
    write(str(d / "part1.parquet"), [(1, base, 1, "a", 1.0), (2, base + 6 * 3600, 1, "a", 1.0)])
    _time.sleep(1.1)  # distinct mtimes => deterministic file order
    # file 2: an on-time row; during this batch the hour-0 window (end 1h
    # < watermark 5h) is finalized, emitted with n=1, and evicted
    write(str(d / "part2.parquet"), [(5, base + 6 * 3600 + 900, 1, "a", 1.0)])
    _time.sleep(1.1)
    # file 3: a late event back at t=0h30 — behind the watermark AND its
    # window state already evicted => guaranteed dropped
    write(
        str(d / "part3.parquet"),
        [(3, base + 1800, 1, "a", 1.0), (4, base + 6 * 3600 + 1800, 1, "a", 1.0)],
    )

    from skripsi_mapreduce_spark.streaming.windows import EVENTS_SCHEMA

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(d))
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = tumbling_counts(ev, watermark="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM t_late").collect()
    hour0 = base - (base % 3600)
    hour0_rows = [(r["hour_epoch"], r["n"]) for r in rows if r["hour_epoch"] == hour0]
    # the hour-0 window closed with ONLY the on-time event; the late row
    # (event 3) was dropped and the window never re-emitted
    assert hour0_rows == [(hour0, 1)]


def test_tumbling_stream_at_sf001_runs_incrementally(spark):
    """Smoke: the streaming query planner accepts the aggregation in
    append mode with watermark (state cleanup eligible)."""
    ev = stream_events(spark, SF_DIR)
    agg = tumbling_counts(ev)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    assert spark.sql("SELECT COUNT(*) c FROM t_append").head()["c"] >= 0


def test_streaming_dedup_drops_replays(spark, tmp_path):
    """streaming_dedup keeps the first arrival per content digest and
    drops replays inside the watermark horizon; result equals the batch
    dedup of the same input."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from skripsi_mapreduce_spark.streaming.windows import (
        EVENTS_SCHEMA,
        run_to_memory_sink,
        streaming_dedup,
    )

    base = 1_700_000_000
    rows = [
        (1, base, 1, "doc-a", 1.0),
        (2, base + 60, 1, "doc-b", 1.0),
        (3, base + 120, 2, "doc-a", 1.0),  # replay of doc-a content
        (4, base + 180, 2, "doc-c", 1.0),
        (5, base + 240, 3, "doc-b", 1.0),  # replay of doc-b content
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] * 1_000_000_000 for r in rows], pa.int64()),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    d = tmp_path / "dstream"
    d.mkdir()
    pq.write_table(tbl, str(d / "part1.parquet"))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(str(d))
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    deduped = streaming_dedup(ev, ["event_type"], watermark="10 minutes")
    got = run_to_memory_sink(deduped, "t_dedup", output_mode="append")
    kept = sorted(r["event_id"] for r in got.collect())
    assert kept == [1, 2, 4]  # first arrival per digest wins


def test_stream_stream_interval_join_equals_batch(spark):
    """Watermarked stream-stream interval join (clicks to views within
    the preceding hour, per user) equals the same join on batch frames."""
    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.streaming.joins import interval_join

    def _sides(df):
        clicks = df.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
        views = df.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
        return clicks, views

    sev = stream_events(spark, SF_DIR)
    got = run_to_memory_sink(
        interval_join(*_sides(sev), key="user_id", lo_seconds=-3600, hi_seconds=0),
        "t_ssj",
        output_mode="append",
    )
    bev = load_table(spark, SF_DIR, "events")
    batch = interval_join(*_sides(bev), key="user_id", lo_seconds=-3600, hi_seconds=0)
    g = sorted((r["event_id"], r["r_event_id"]) for r in got.collect())
    b = sorted((r["event_id"], r["r_event_id"]) for r in batch.collect())
    assert g == b
    assert len(g) > 0  # the join must actually fire on the testdata


def test_streaming_corpus_filter_equals_batch(spark, tmp_path):
    """corpus_filter is narrow-only, so the SAME function runs on a file
    stream and produces exactly the batch survivors (ingestion-time
    corpus filtering)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from skripsi_mapreduce_spark.operators.pipeline import corpus_filter
    from skripsi_mapreduce_spark.streaming.windows import run_to_memory_sink

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and it is a fine day in the sun"),
        (2, "der hund und die katze sind nicht mit dem vogel ein gutes team heute"),
        (3, "!!! ??? ###"),  # junk -> quality filter drops
        (4, "the cat sat on the mat and it is a good mat that the cat likes to sit on"),
        (5, "el perro y el gato son los animales que la casa es una buena"),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    d = tmp_path / "docstream"
    d.mkdir()
    pq.write_table(tbl, str(d / "part1.parquet"))

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    kwargs = dict(min_quality=0.5, languages=["en", "de"])
    batch = corpus_filter(spark.read.schema(schema).parquet(str(d)), **kwargs)
    stream = corpus_filter(
        spark.readStream.schema(schema).format("parquet").load(str(d)), **kwargs
    )
    got = run_to_memory_sink(stream, "t_corpus_filter", output_mode="append")
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in batch.collect()
    )
    # the junk doc must actually have been filtered, not passed through
    assert 3 not in {r["doc_id"] for r in got.collect()}


def test_tws_twin_gates_or_matches(spark):
    """transformWithStateInPandas twin: parity with the
    applyInPandasWithState path when protobuf is present; an honest
    NotImplementedError naming the dependency when it is not (this
    container ships without protobuf)."""
    import pytest

    from skripsi_mapreduce_spark.streaming.stateful import (
        running_mean_anomalies,
        running_mean_anomalies_tws,
    )
    from skripsi_mapreduce_spark.streaming.windows import (
        run_to_memory_sink,
        state_partitions,
        stream_events,
    )

    sf = "/root/testdata/sf0.001"
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            running_mean_anomalies_tws(
                stream_events(spark, sf).select("ts", "event_id", "user_id", "value")
            )
        return
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    with state_partitions(spark, 8):
        a = run_to_memory_sink(
            running_mean_anomalies_tws(
                stream_events(spark, sf).select("ts", "event_id", "user_id", "value")
            ),
            "tws_parity_a",
            "append",
        )
    rows_a = sorted(tuple(r) for r in a.collect())
    with state_partitions(spark, 8):
        b = run_to_memory_sink(
            running_mean_anomalies(
                stream_events(spark, sf).select("ts", "event_id", "user_id", "value")
            ),
            "tws_parity_b",
            "append",
        )
    rows_b = sorted(tuple(r) for r in b.collect())
    assert rows_a == rows_b and rows_a


def test_stream_to_versioned_snapshots_matches_batch(spark, tmp_path):
    """foreachBatch -> write_versioned: the streamed aggregate's LATEST
    snapshot equals the batch aggregate, and each version is a readable
    consistent state."""
    from skripsi_mapreduce_spark.io import list_versions, load_table, read_versioned
    from skripsi_mapreduce_spark.streaming.windows import (
        state_partitions,
        stream_events,
        stream_to_versioned_snapshots,
        tumbling_counts,
    )

    sf = "/root/testdata/sf0.001"
    root = str(tmp_path / "mv")
    ev = stream_events(spark, sf)
    with state_partitions(spark, 8):
        versions = stream_to_versioned_snapshots(
            tumbling_counts(ev), root, "mv_snap", "complete"
        )
    assert versions and list_versions(root)[-1] == versions[-1]
    latest = read_versioned(spark, root)
    import pyspark.sql.functions as F

    batch = (
        load_table(spark, sf, "events")
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("bigint").alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    got = sorted(
        (r["hour_epoch"], r["event_type"], r["n"]) for r in latest.collect()
    )
    want = sorted(
        (r["hour_epoch"], r["event_type"], r["n"]) for r in batch.collect()
    )
    assert got == want


def test_stream_semantic_verdicts_invariant_to_microbatch_slicing(spark, tmp_path):
    """The streaming SemDeDup twin's replay claim, exercised for real: a
    doc's verdict depends only on the static corpus and its own vector,
    so splitting the batch stream into MANY micro-batches (one file per
    trigger over a 4-file directory) must produce row-identical verdicts
    to the batch operator on the same split."""
    import os

    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.operators.dedup import semantic_incremental
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint_ivf_model
    from skripsi_mapreduce_spark.streaming.semantic import semantic_verdicts_stream
    from skripsi_mapreduce_spark.streaming.windows import run_to_memory_sink, state_partitions

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).localCheckpoint()
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)

    want = sorted(
        map(tuple, semantic_incremental(corpus, batch, eps=0.99, target_cluster_size=50).collect())
    )

    k = max(2, -(-corpus.count() // 50))
    w = corpus.select(
        F.col("vec_id").alias("doc_id"), F.posexplode("embedding").alias("word", "x")
    ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4"))
    dense_c = corpus.select(
        F.col("vec_id").cast("long").alias("doc_id"), F.col("embedding").alias("vec")
    )
    corpus_assign, model = kmeans_fixedpoint_ivf_model(
        w, k, n_probe=2, weight_col="x_e4", dense=dense_c
    )
    src = str(tmp_path / "batch_files")
    batch.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches
    bstream = (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    allemb = corpus.unionByName(batch)
    verdicts = semantic_verdicts_stream(bstream, corpus_assign, model, allemb, 990_000)
    with state_partitions(spark, 8):
        sunk = run_to_memory_sink(verdicts, "stream_sem_slice_test", "complete")
    got = sorted(map(tuple, sunk.collect()))
    assert got == want
    assert len({q for q in os.listdir(src) if q.endswith(".parquet")}) >= 2


def test_stream_semantic_large_k_foreachbatch_route(spark, tmp_path, monkeypatch):
    """Round-8: the streaming SemDeDup twin's LARGE-K route. A model
    built past the fused closure bound (a bound of 0 cells forces the
    'distributed' kind) cannot ride the single-aggregation streaming
    plan — semantic_verdicts_stream must refuse it with a descriptive
    error, and serve_semantic_verdicts_foreachbatch must serve the same
    multi-file stream through the batch verdict path per micro-batch,
    bit-identical to the batch operator's verdicts."""
    import os

    import pytest

    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.operators import kmeans as km
    from skripsi_mapreduce_spark.operators.dedup import semantic_incremental
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint_ivf_model
    from skripsi_mapreduce_spark.streaming.semantic import (
        semantic_verdicts_stream,
        serve_semantic_verdicts_foreachbatch,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).localCheckpoint()
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)

    want = sorted(
        map(tuple, semantic_incremental(corpus, batch, eps=0.99, target_cluster_size=50).collect())
    )

    k = max(2, -(-corpus.count() // 50))
    w = corpus.select(
        F.col("vec_id").alias("doc_id"), F.posexplode("embedding").alias("word", "x")
    ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4"))
    dense_c = corpus.select(
        F.col("vec_id").cast("long").alias("doc_id"), F.col("embedding").alias("vec")
    )
    with monkeypatch.context() as m:
        m.setattr(km, "_FUSED_MAX_CELLS", 0)
        corpus_assign, model = kmeans_fixedpoint_ivf_model(
            w, k, n_probe=2, weight_col="x_e4", dense=dense_c
        )
    assert model["kind"] == "distributed"

    src = str(tmp_path / "batch_files")
    batch.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches
    bstream = (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    allemb = corpus.unionByName(batch).localCheckpoint()

    # the single-plan stream refuses the distributed model loudly
    with pytest.raises(ValueError, match="foreachbatch"):
        semantic_verdicts_stream(bstream, corpus_assign, model, allemb, 990_000)

    got_df = serve_semantic_verdicts_foreachbatch(
        bstream, corpus_assign, model, allemb, 990_000, memory_sink=True
    )
    got = sorted(map(tuple, got_df.collect()))
    assert got == want
    assert len({q for q in os.listdir(src) if q.endswith(".parquet")}) >= 2

    # the parquet-sink production shape emits the same table
    sink = str(tmp_path / "verdict_sink")
    bstream2 = (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    got2_df = serve_semantic_verdicts_foreachbatch(
        bstream2, corpus_assign, model, allemb, 990_000, sink_path=sink
    )
    assert sorted(map(tuple, got2_df.collect())) == want

    # empty stream + parquet sink: foreachBatch never fires and the sink
    # dir is never created — the server must return an EMPTY verdict
    # table, not raise on the missing path (parity with the memory sink)
    empty_src = str(tmp_path / "no_batches")
    batch.limit(0).write.parquet(empty_src)
    bstream3 = (
        spark.readStream.schema(batch.schema).format("parquet").load(empty_src)
    )
    got3 = serve_semantic_verdicts_foreachbatch(
        bstream3, corpus_assign, model, allemb, 990_000,
        sink_path=str(tmp_path / "never_written"),
    )
    assert got3.count() == 0


def test_stream_topk_serving_matches_batch_and_slicing_invariant(spark, tmp_path):
    """Round-8 streaming retrieval serving: the foreachBatch top-k route
    must be bit-identical to the batch topk_cosine_many kernel, for both
    a one-file replay and a per-query four-file slicing (top-k serving
    is stateless per query, so any micro-batch slicing yields the same
    union), and the parquet-append sink must equal the driver
    accumulation."""
    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators.similarity import topk_cosine_many
    from skripsi_mapreduce_spark.streaming.serving import (
        serve_topk_cosine_foreachbatch,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    qdf = emb.filter(emb.vec_id < 3).selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    want = sorted(map(tuple, topk_cosine_many(emb, qdf, k=5).collect()))

    one = str(tmp_path / "one")
    qdf.coalesce(1).write.parquet(one)
    many = str(tmp_path / "many")
    qdf.repartition(3, "query_id").write.parquet(many)

    def replay(src, **kw):
        qstream = (
            spark.readStream.schema(qdf.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .load(src)
        )
        return serve_topk_cosine_foreachbatch(qstream, emb, k=5, **kw)

    got_one = sorted(map(tuple, replay(one, memory_sink=True).collect()))
    got_many = sorted(map(tuple, replay(many, memory_sink=True).collect()))
    assert got_one == want
    assert got_many == want
    sink = str(tmp_path / "sink")
    got_sink = sorted(map(tuple, replay(one, sink_path=sink).collect()))
    assert got_sink == want
    # round-10 sink contract: a SECOND run on the SAME logical sink path
    # returns only its own rows (auto run-namespacing, not append-mixing)
    got_again = sorted(map(tuple, replay(many, sink_path=sink).collect()))
    assert got_again == want
    # and the sink choice is explicit: neither or both raise
    with pytest.raises(ValueError, match="exactly one sink"):
        replay(one)
    with pytest.raises(ValueError, match="exactly one sink"):
        replay(one, sink_path=sink, memory_sink=True)


def test_stream_topk_serving_empty_stream(spark, tmp_path):
    """An empty query stream yields the empty result table with the
    declared schema, through both sink shapes — foreachBatch never
    fires, and the operator must not error."""
    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.streaming.serving import (
        serve_topk_cosine_foreachbatch,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    src = str(tmp_path / "queries")
    emb.limit(0).selectExpr("vec_id AS query_id", "embedding AS query_vec").coalesce(
        1
    ).write.parquet(src)
    qstream = (
        spark.readStream.schema("query_id long, query_vec array<float>")
        .format("parquet")
        .option("pathGlobFilter", "*.parquet")
        .load(src)
    )
    out = serve_topk_cosine_foreachbatch(qstream, emb, k=5, memory_sink=True)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "vec_id", "score"]
