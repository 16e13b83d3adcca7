"""The timed passes: one function per workload, calling the program only
through its public functions, with a span around each call.

A span's jobs run under a Spark job group named after the span, so the
status store can charge every job to the span whose call submitted it.
Lazy results are charged to the span whose call forces them; that span
lists the spans whose results it forced in ``forces``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

PASS_GROUP = "pass"

# The thesis CLI's defaults (cli.build_parser): k=8 clusters, m=10 max
# iterations (the reference runs at most m-1), seed 42.
KMEANS_K, KMEANS_M, KMEANS_SEED = 8, 10, 42
# The dedup_group_keep / dedup_incremental registry settings.
THRESHOLD, NUM_HASHES, ROWS_PER_BAND = 0.8, 16, 4


class Tracer:
    """Spans kept in memory; written out by the caller at the end."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, forces: list[int] | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "forces": forces or [],
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(str(sid), layer)
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobGroup(str(self._stack[-1]) if self._stack else PASS_GROUP, "")


def _read_list(path: str) -> list[str]:
    with open(path, encoding="utf-8") as f:
        return [w.strip() for w in f if w.strip()]


def paper_pipeline(spark, t: Tracer, inp: str, out: str) -> dict:
    """The CLI's three stages in order (``-a 1``, ``-a 2``, ``-a 3``) with
    its defaults, each stage writing its output as the CLI does."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.io import write_parquet
    from skripsi_mapreduce_spark.operators.etl import extract_transform
    from skripsi_mapreduce_spark.operators.kmeans import kmeans
    from skripsi_mapreduce_spark.operators.tfidf import tfidf_long

    stop = _read_list(os.path.join(inp, "stopwords.txt"))
    vocab = _read_list(os.path.join(inp, "adj.txt"))
    with t.span("etl"):
        review_book, n = extract_transform(spark, os.path.join(inp, "reviews.json"), stop, vocab)
    with t.span("io"):
        write_parquet(review_book, os.path.join(out, "review_book"))
    with t.span("io"):
        rb = spark.read.parquet(os.path.join(out, "review_book"))
    with t.span("tfidf") as s_tfidf:
        docs = rb.select(
            F.col("id").cast("long").alias("doc_id"),
            F.array_join("adjectiveWord", " ").alias("text"),
        )
        feats = tfidf_long(docs, n_docs=n)
    with t.span("io", forces=[s_tfidf]):
        write_parquet(feats, os.path.join(out, "features"))
    with t.span("io"):
        feats = spark.read.parquet(os.path.join(out, "features"))
    with t.span("kmeans"):
        res = kmeans(spark, feats, k=KMEANS_K, max_iter=KMEANS_M, seed=KMEANS_SEED)
    with t.span("io"):
        write_parquet(res.assignments, os.path.join(out, "clusters"))
    return {
        "n_docs": n,
        "iterations": res.iterations,
        "converged": res.converged,
        "sse": {str(c): v for c, v in res.sse.items()},
        "centroids": {str(c): v for c, v in res.centroids.items()},
    }


def near_dedup(spark, t: Tracer, inp: str, out: str) -> dict:
    """The dedup_group_keep flow: MinHash/LSH edges at Jaccard 0.8 feed
    connected components; the (doc_id, keep_id) list is written."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.io import write_parquet
    from skripsi_mapreduce_spark.operators.components import connected_components
    from skripsi_mapreduce_spark.operators.dedup import minhash_dup_edges

    with t.span("io"):
        docs = spark.read.parquet(os.path.join(inp, "documents"))
    with t.span("dedup") as s_dedup:
        edges = minhash_dup_edges(
            docs, threshold=THRESHOLD, num_hashes=NUM_HASHES, rows_per_band=ROWS_PER_BAND
        )
    with t.span("components", forces=[s_dedup]) as s_comp:
        # star edges and verified rep pairs are disjoint ordered sets,
        # the contract dedup_group_keep relies on
        comp = connected_components(edges, "id_a", "id_b", assume_distinct_edges=True)
    with t.span("io", forces=[s_comp]):
        write_parquet(
            comp.select(
                F.col("node").cast("bigint").alias("doc_id"),
                F.col("component").cast("bigint").alias("keep_id"),
            ),
            os.path.join(out, "keep"),
        )
    return {}


def dedup_ingest(spark, t: Tracer, inp: str, out: str) -> dict:
    """Batches vetted one after another against the growing store: each
    batch's near-duplicates of the store are dropped and its survivors
    written, so the next batch is vetted against them too."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.io import write_parquet
    from skripsi_mapreduce_spark.operators.dedup import minhash_near_dups_against

    store = [os.path.join(inp, "corpus")]
    batches = sorted(d for d in os.listdir(inp) if d.startswith("batch_"))
    verdicts = []
    for name in batches:
        with t.span("io"):
            corpus = spark.read.parquet(*store)
            batch = spark.read.parquet(os.path.join(inp, name))
        with t.span("dedup"):
            rows = minhash_near_dups_against(
                corpus, batch, threshold=THRESHOLD,
                num_hashes=NUM_HASHES, rows_per_band=ROWS_PER_BAND,
            ).collect()
        dups = sorted(r["batch_id"] for r in rows)
        dest = os.path.join(out, "store", name)
        with t.span("io"):
            write_parquet(batch.filter(~F.col("doc_id").isin(dups)), dest)
        store.append(dest)
        verdicts.append(sorted([r["batch_id"], r["max_jaccard"]] for r in rows))
    return {"verdicts": verdicts}


PASSES = {
    "paper_pipeline": paper_pipeline,
    "near_dedup": near_dedup,
    "dedup_ingest": dedup_ingest,
}
