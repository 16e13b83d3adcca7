"""Streaming twin of the incremental SemDeDup verdict: embedding
batches arrive as an unbounded stream and are routed through the
CORPUS-trained hierarchical model — the clustering never re-runs, the
stream only pays one fused quantization kernel plus a stream-static
join per micro-batch.

Replay property (what the adjudication pins): a batch doc's verdict
depends only on the static corpus and its OWN vector, so the output is
identical however the file source slices the input into micro-batches —
the same statement the other stream_* entries make for windows, joins,
and dedup, extended to the model-serving shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table as an unbounded stream (file-source replay
    of the parquet — the embedding twin of windows.stream_events)."""
    import os

    schema = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )


def semantic_verdicts_stream(
    batch_stream: DataFrame,
    corpus_assign: DataFrame,
    model: dict,
    allemb: DataFrame,
    eps_e6: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-doc SemDeDup verdicts over a STREAM of batch docs against a
    static corpus: quantize each arriving doc through the frozen
    ``model`` (one mapInPandas kernel — works unchanged on streams),
    stream-static join to the corpus members of its cluster, score the
    exact fixed-point cosines, and aggregate one verdict row per doc.

    The zero-pair case rides a SENTINEL row (cosine_e6 = -2000000,
    below any real score and any eps) unioned per doc instead of an
    outer join — stream-stream joins need watermarks, but a union into
    ONE complete-mode aggregation does not, and max/sum over the
    sentinel reproduce the batch operator's COALESCE semantics exactly
    (pinned by the shared oracle)."""
    from ..functions.numeric import e_int
    from ..operators.kmeans import assign_with_model
    from ..operators.similarity import pair_cosine_join

    if model.get("kind") != "fused":
        # A 'distributed' model's assignment tier chains per-doc
        # aggregations (dot sums, argmin) the single-aggregation
        # streaming plan below cannot express — unguarded it would die
        # at stream start with an opaque AnalysisException. The large-k
        # streaming route exists: serve_semantic_verdicts_foreachbatch
        # runs the FULL batch verdict path per micro-batch.
        raise ValueError(
            f"semantic_verdicts_stream serves only 'fused' models (got "
            f"{model.get('kind')!r}): a distributed large-k model needs "
            "multi-aggregation scoring a streaming plan cannot express — "
            "use serve_semantic_verdicts_foreachbatch, which routes each "
            "micro-batch through the batch verdict path (bit-identical)."
        )
    dense_b = batch_stream.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(vec_col).alias("vec")
    )
    ba = assign_with_model(dense_b, model).select("doc_id", "cluster")
    # No broadcast hint on corpus_assign: it is an n-row table (one row
    # per corpus doc), which is NOT a broadcastable side at corpus
    # scale. The stream-static equi-join on cluster works shuffled, and
    # Catalyst may still SIZE-pick a broadcast when the corpus is
    # genuinely small — the decision belongs to the planner, not a
    # hint (a test pins that no unconditional broadcast survives).
    pairs = (
        ba.select(F.col("doc_id").alias("id_b"), "cluster")
        .join(
            corpus_assign.select(F.col("doc_id").alias("id_a"), F.col("cluster")),
            "cluster",
        )
        .select("cluster", "id_a", "id_b")
    )
    scored = pair_cosine_join(pairs, allemb, id_col=id_col, vec_col=vec_col).select(
        "id_b", "cluster", e_int(F.col("cosine"), 6).alias("cosine_e6")
    )
    sentinel = ba.select(
        F.col("doc_id").alias("id_b"),
        "cluster",
        F.lit(-2_000_000).cast("long").alias("cosine_e6"),
    )
    u = scored.unionByName(sentinel)
    agg = u.groupBy("id_b").agg(
        F.max("cluster").alias("cluster"),  # constant per doc
        F.sum(F.when(F.col("cosine_e6") >= eps_e6, 1).otherwise(0))
        .cast("long")
        .alias("n_dups"),
        F.max("cosine_e6").alias("max_cosine_e6"),
    )
    return agg.select(
        F.col("id_b").alias("doc_id"),
        "cluster",
        "n_dups",
        F.col("max_cosine_e6").cast("long").alias("max_cosine_e6"),
        F.when(F.col("n_dups") == 0, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("is_new"),
    )


def serve_semantic_verdicts_foreachbatch(
    batch_stream: DataFrame,
    corpus_assign: DataFrame,
    model: dict,
    allemb: DataFrame,
    eps_e6: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sink_path: str | None = None,
    memory_sink: bool = False,
    timeout_s: int = 300,
) -> DataFrame:
    """The LARGE-K streaming SemDeDup route: serve a stream through ANY
    model kind — including the 'distributed' tier whose assignment
    chains per-doc aggregations no single streaming plan can express —
    by running the FULL batch verdict path on each micro-batch under
    ``foreachBatch``. Inside the hook every micro-batch is a plain
    batch DataFrame, so quantization routes through
    kmeans.assign_with_model's own tier ladder (fused kernel or numpy
    coarse probes + distributed join scoring) and the verdicts come
    from dedup.assigned_batch_verdicts — the SAME function the batch
    entry calls, so stream and batch verdicts are bit-identical BY
    CONSTRUCTION (and pinned by test across the fused closure bound,
    ``kmeans._FUSED_MAX_CELLS``).

    Replay invariance holds for free: a doc's verdict depends only on
    the static corpus and its own vector, so per-micro-batch outputs
    are final rows and the union over any micro-batch slicing is the
    same table.

    Sink (exactly one must be chosen — serving._resolve_sink): with
    ``sink_path`` each micro-batch APPENDS its verdicts as parquet
    under a fresh ``run-<id>`` subdirectory (the production shape —
    verdict rows are k-per-batch-doc scalars, never vectors; a reused
    logical path returns only its own run's rows); with
    ``memory_sink=True`` the verdicts accumulate in a driver-side list
    (the opt-in audit shape, same role as windows.run_to_memory_sink).
    Returns the run's verdicts as a batch DataFrame.

    Scale note: this trades the fused route's one-kernel latency for
    full batch-plan generality — each micro-batch pays the distributed
    tier's join scheduling, which amortizes at production micro-batch
    sizes (the k×dim closure bound this lifts only matters when k has
    outgrown a broadcastable codebook anyway)."""
    from ..operators.dedup import assigned_batch_verdicts
    from ..operators.kmeans import assign_with_model
    from .serving import _resolve_sink

    spark = batch_stream.sparkSession
    run_dir = _resolve_sink(sink_path, memory_sink)
    rows: list = []

    def _serve(mb: DataFrame, _epoch: int) -> None:
        dense_b = mb.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(vec_col).alias("vec")
        )
        ba = assign_with_model(dense_b, model).select("doc_id", "cluster")
        out = assigned_batch_verdicts(
            ba, corpus_assign, allemb, eps_e6, id_col=id_col, vec_col=vec_col
        )
        if run_dir is not None:
            out.write.mode("append").parquet(run_dir)
        else:
            rows.extend(out.collect())

    q = (
        batch_stream.writeStream.foreachBatch(_serve)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
    finally:
        q.stop()
    if not finished:
        raise TimeoutError(
            f"semantic foreachBatch replay did not finish within {timeout_s}s"
        )
    schema = (
        "doc_id long, cluster bigint, n_dups long, max_cosine_e6 long, is_new int"
    )
    if run_dir is not None:
        import os

        if not os.path.exists(run_dir):
            # an empty stream never fires foreachBatch, so the sink dir
            # is never created — return the same empty verdict table the
            # memory-sink branch produces. Any OTHER read failure
            # (corrupt footer, permission) propagates loudly instead of
            # masquerading as an empty verdict set.
            return spark.createDataFrame([], schema=schema)
        return spark.read.parquet(run_dir)
    return spark.createDataFrame(rows, schema=schema)
