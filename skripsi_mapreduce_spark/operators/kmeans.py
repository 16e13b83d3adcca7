"""Iterative K-Means over sparse long-form feature vectors (SURVEY.md §2.3,
reference ``-a 3``).

Semantics contract (cited to /root/reference/):
- Init: k document ids drawn uniformly without replacement; their vectors
  are centroids 0..k-1 (JobExtractFeature.java:143-158 O26 — the reference
  is UNSEEDED and can draw the nonexistent id 0, §8 Q5; the engine seeds
  the draw over 1..N and documents the deviation).
- Assign: nearest centroid by Euclidean distance (MapperKMean.java:83-108
  O31/O32); ties -> lowest cluster index (the reference's HashMap iteration
  order is nondeterministic; we define it).
- Update: centroid = elementwise mean of member vectors, rounded HALF_UP to
  10dp (ReducerKMean.java:31-59 O33); per-cluster SSE = sum of squared
  distances (O34).
- Converge: exact equality of rounded centroid maps
  (JobClustering.java:210,227-232 O37), or m-1 iterations — the reference
  loop runs AT MOST m-1 times (App.java:122-145, §8 Q4), reproduced here.
- Empty clusters silently vanish (k shrinks), as in the reference (§2.3).

Scale design: while the centroids are small (``CENTROID_LITERAL_CAP``)
they enter each iteration's plan as ONE constant value — a JSON string
parsed by ``from_json``, which Catalyst folds into a single array literal
(replacing the per-task distributed-cache load, MapperKMean.java:55-80
O30). Distances are computed map-side over each document's pre-grouped
sparse vector, and one aggregation returns the new centroid sums together
with every cluster's size and SSE: two Spark jobs per iteration (the
shuffle map stage and the bounded collect) vs the reference's five
materialization boundaries per iteration (§3.4). Documents never leave
their partitions except for that one groupBy(cluster, word) shuffle,
which Catalyst partial-aggregates map-side. Each iteration's plan reads
the checkpointed vectors plus one constant, so plan depth stays O(1), not
O(m). Past the cap, centroids move driver->executors as a BROADCAST table
and each iteration's (doc_id, cluster, dist2) is checkpointed; both
assignment kernels feed the same update aggregation, and the document
vectors are the only table the whole run pins. Distance uses the
sparse-safe expansion ||x||^2 + ||c||^2 - 2x.c (the reference's dense
nested loop, MapperKMean.java:88-92, NPEs on missing keys — §8 Q10).

Driver cost: the k seed vectors are one filtered collect off the
checkpointed vectors (clusters mapped on the driver, no broadcast join),
and the constant-centroid assignment and the update are each ONE SQL
statement (``spark.sql`` over a temporary view, the centroid JSON bound as
a named parameter), so building an iteration costs about 20 py4j round
trips instead of the ~600 of the same expressions as Column calls (each
pays PySpark's call-site capture).

The oracle-exact fixed-point family — ``kmeans_fixedpoint`` (exact
Lloyd), ``kmeans_fixedpoint_ivf`` (IVF-assigned, for k that grows with
the corpus), ``kmeans_fixedpoint_ivf_model`` and ``assign_with_model``
(a frozen model for later batches) — keeps the same semantics in int64
arithmetic so a SQL oracle replays it bit-for-bit. Its tiers differ
only in how a step runs, and each step is written once: the md5 seed
order (``similarity._md5_first``; ``_md5_key`` is its driver-side
twin), the squared norms (``_x2``, ``_sq_norms``), the argmin
(``_nearest``, shared with the join kernel above), the update
(``_centroid_update``) and the fine->coarse quantization
(``_quantize``); on the numpy side the matrix builder
(``_rows_matrix``), the e4 batch quantizer (``_e4_batch``), the
coarse-list ranking (``_rank_lists``) and the int64 argmin
(``_nearest_numpy``). Tiers are picked from the input, never by a
caller option: the pivot kernel up to ``_PIVOT_MAX_K`` clusters, driver-
held centroids up to ``_CENT_COLLECT_MAX`` rows, the fused IVF kernel
up to ``_FUSED_MAX_CELLS`` fine-codebook cells.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import local_df
from .similarity import _md5_first, _md5_key, _round_half_away


# Past this many total (cluster, word) centroid entries, assignment falls
# back from the constant-centroid path to the broadcast-join path (the
# 100 TB shape, where centroids are a table). The constant is one folded
# value, so plan size no longer grows with the entry count; what still
# grows is the per-entry map lookup (element_at scans a map linearly, once
# per document word and cluster). That rationale for keeping the 20,000
# switch point is unmeasured — the cap has not been retuned.
CENTROID_LITERAL_CAP = 20_000

# The centroids as the constant-centroid path ships them: ascending
# cluster order, ||c||^2 precomputed, word -> weight maps.
_CENTROIDS_TYPE = "array<struct<cluster:int,c2:double,cmap:map<string,double>>>"


@dataclass
class KMeansResult:
    assignments: DataFrame  # (doc_id, cluster, dist2)
    centroids: dict[int, dict[str, float]]
    sse: dict[int, float]
    iterations: int
    converged: bool
    history: list[dict[int, float]] = field(default_factory=list)


def init_centroid_ids(n_docs: int, k: int, seed: int = 42) -> dict[int, int]:
    """Seeded draw of k distinct doc ids from 1..N -> {doc_id: cluster_idx}.

    Replaces the unseeded ``Random.longs(0, N+1)`` (JobExtractFeature.java:
    148-150) whose range includes the never-assigned id 0 (§8 Q5).
    """
    rng = random.Random(seed)
    ids = rng.sample(range(1, n_docs + 1), k)
    return {doc_id: idx for idx, doc_id in enumerate(ids)}


def _round10(x: float) -> float:
    """HALF_UP to 10dp, matching BigDecimal.setScale(10, HALF_UP)
    (ReducerKMean.java:50-52)."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(decimal.Decimal("1e-10"), rounding=decimal.ROUND_HALF_UP)
    )


def kmeans(
    spark: SparkSession,
    features: DataFrame,
    k: int,
    max_iter: int,
    seed: int = 42,
    id_col: str = "doc_id",
    word_col: str = "word",
    weight_col: str = "weight",
    parity_max_iter_off_by_one: bool = True,
    max_centroid_entries: int = 1_000_000,
) -> KMeansResult:
    """Lloyd's algorithm on a sparse ``(doc_id, word, weight)`` table.

    ``parity_max_iter_off_by_one=True`` reproduces the reference's
    at-most-(m-1)-iterations loop (App.java:122-125; honest ``max_iter``
    when False).

    Memory envelope: each iteration materializes the new centroids —
    k × |active vocabulary| (word, weight) rows — on the DRIVER (the
    parity convergence test compares exact rounded maps). That is bounded
    for the reference's closed adjective vocabulary but a cliff for an
    open vocabulary, so the update refuses to collect more than
    ``max_centroid_entries`` rows (~50 MB at the default) and points at
    ``kmeans_ml``/``kmeans_fixedpoint``, whose centroids never leave the
    executors.

    ``assignments`` is LAZY. When the last iteration took the
    constant-centroid path (the usual case) it is a map-only projection
    over the checkpointed document vectors that recomputes the distances
    on each action; on the join path it is a join of the checkpointed
    (doc_id, cluster, dist2) with the checkpointed document vectors.
    Callers that read it more than once may checkpoint it themselves.

    ``max_iter <= 1`` (with the parity off-by-one): no iteration runs,
    ``iterations`` is 0 and one pass assigns every document to the seed
    centroids, which are returned unchanged with their SSE."""
    feats = features.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(word_col).alias("word"),
        F.col(weight_col).cast("double").alias("weight"),
    )
    # Per-document sparse vector + ||x||^2: the only pinned table. It feeds
    # the seed centroids, both assignment kernels and the update. Entries
    # are sorted by word: the constant-centroid dot product folds over this
    # array, and a canonical fold order keeps dist2 ULP-identical across
    # runs/partitionings (collect_list order is shuffle luck). The id probe
    # rides the checkpoint's own job as an observation.
    obs = Observation("kmeans_ids")
    docs_vec = (
        feats.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("word", "weight"))).alias("entries"),
            F.sum(F.col("weight") * F.col("weight")).alias("x2"),
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .localCheckpoint(eager=True)
    )
    n_docs, min_id, max_id = obs.get["n"], obs.get["lo"], obs.get["hi"]
    if min_id == 1 and max_id == n_docs:
        # dense 1..N ids (the reference's own ETL contract,
        # ReducerExtractTransform.java:36-39): seeded draw over ids
        # directly — bit-compatible with the Python/numpy oracle
        id2cluster = init_centroid_ids(n_docs, k, seed)
    else:
        # sparse/arbitrary ids: the same seeded draw selects POSITIONS
        # 1..N, mapped to actual ids through a rank — otherwise sampled
        # ids can miss the data and clusters silently vanish at init
        from .etl import assign_sequential_ids

        # reuse the draw's OWN position->cluster mapping so cluster
        # numbering (and lowest-cluster tie-breaks) is identical whether
        # ids are dense 1..N or sparse — rebuilding it from
        # sorted(positions) renumbered clusters differently per path
        pos2cluster = init_centroid_ids(n_docs, k, seed)
        ranked = assign_sequential_ids(
            docs_vec.select("doc_id"), ["doc_id"], id_col="_pos"
        )
        id2cluster = {
            r["doc_id"]: pos2cluster[r["_pos"]]
            for r in ranked.filter(f"_pos IN ({', '.join(map(str, pos2cluster))})").collect()
        }
    # the k seed vectors come straight off the checkpoint (one SQL
    # predicate: an isin() of k values costs k literal Column calls); the
    # clusters are mapped on the driver
    centroids: dict[int, dict[str, float]] = {}
    for row in docs_vec.filter(f"doc_id IN ({', '.join(map(str, id2cluster))})").collect():
        vec = centroids.setdefault(id2cluster[row["doc_id"]], {})
        for e in row["entries"]:
            vec[e["word"]] = e["weight"]

    limit = max_iter - 1 if parity_max_iter_off_by_one else max_iter
    history: list[dict[int, float]] = []
    converged = False
    iterations = 0

    # the constant-centroid path parses centroid maps from JSON, whose keys
    # are strings; other word types take the join path
    word_type = feats.schema["word"].dataType
    literal_words = isinstance(word_type, T.StringType)
    # max_iter <= 1: the parity loop never runs, but one pass still assigns
    # every document to the seed centroids and measures their SSE
    for _ in range(max(limit, 1)):
        if literal_words and sum(len(v) for v in centroids.values()) <= CENTROID_LITERAL_CAP:
            # distances are computed map-side against the constant
            # centroids, so the iteration runs two jobs (the update's) and
            # checkpoints nothing; the assignments stay a lazy map-only
            # projection
            assigned = _assign_literal(docs_vec, centroids)
        else:
            # the join kernel's result feeds the update and the final
            # assignments: pin it once instead of recomputing the join,
            # and cut lineage so plan depth stays O(1) across iterations
            best = _assign(spark, docs_vec, centroids).localCheckpoint(eager=True)
            assigned = best.join(docs_vec.select("doc_id", "entries"), "doc_id")
        sizes, sse, new_centroid_rows = _update(
            assigned, word_type, len(centroids), max_centroid_entries
        )
        if len(new_centroid_rows) > max_centroid_entries:
            raise RuntimeError(
                f"k-means centroid update exceeds max_centroid_entries="
                f"{max_centroid_entries} (k x |active vocab| rows collected to "
                "the driver for the parity convergence test). For open "
                "vocabularies use kmeans_ml or kmeans_fixedpoint, whose "
                "centroids stay distributed."
            )
        if limit < 1:
            break
        iterations += 1
        history.append(sse)
        new_centroids: dict[int, dict[str, float]] = {}
        for row in new_centroid_rows:
            c = row["cluster"]
            new_centroids.setdefault(c, {})[row["word"]] = _round10(
                row["wsum"] / sizes[c]
            )
        # O37 convergence: exact equality of rounded maps; only clusters
        # present in the OLD map are checked (JobClustering.java:229-231),
        # and empty clusters disappear.
        if _converged(centroids, new_centroids):
            centroids = new_centroids
            converged = True
            break
        centroids = new_centroids

    return KMeansResult(
        assignments=assigned.select("doc_id", "cluster", "dist2"),
        centroids=centroids,
        sse=sse,
        iterations=iterations,
        converged=converged,
        history=history,
    )


def kmeans_fixedpoint(
    weights: DataFrame,
    k: int = 5,
    n_assign_passes: int = 2,
    id_col: str = "doc_id",
    word_col: str = "word",
    weight_col: str = "w_e4",
    output: str = "summary",
) -> DataFrame:
    """Oracle-exact Lloyd over FIXED-POINT features — every number in the
    whole algorithm is an int64, so a SQL oracle (DuckDB) reproduces it
    bit-for-bit with zero float hazards. Semantics:

    - input weights are e4-scaled integers (``round(w * 10^4)``);
    - init: the k documents first in the ``(md5(doc_id), doc_id)`` order
      (:func:`~.similarity._md5_first`) become centroids 0..k-1
      (engine-portable replacement for the seeded RNG draw of the parity
      path — JobExtractFeature.java:143-158 O26 — which no SQL engine can
      replay);
    - distances: dist2_e8 = ||x||² + ||c||² − 2·x·c over the scaled ints
      (exact, order-independent — integer addition commutes, unlike the
      float sums the parity path uses);
    - argmin tie-break: lowest cluster index (O32);
    - update: per-(cluster, word) mean rounded HALF_UP at e4 via pure
      integer arithmetic ``(2·s + n) div (2·n)`` (the O33 rounding rule,
      at e4 instead of 10dp; :func:`_centroid_update`); zero entries
      dropped (no effect on dist);
    - fixed ``n_assign_passes`` assignment passes (no convergence test —
      deterministic work, same every run);
    - returns the per-cluster summary (cluster, n_members, sse_e8) of the
      LAST assignment pass.

    Scale: per pass the docs shuffle once for the dot-product groupBy and
    once for the update groupBy, both map-side partial-aggregated. The
    assignment kernel follows k: up to ``_PIVOT_MAX_K`` clusters one
    groupBy(doc_id).pivot(cluster) computes every per-cluster dot as a
    column (:func:`_assign_fixedpoint_pivot`); past it the pivot would be
    too wide and the (doc_id, cluster)-keyed join form
    (:func:`_assign_fixedpoint`) runs. Both are bit-equal (pinned by
    test). The pivot kernel holds the centroids on the driver while they
    fit ``_CENT_COLLECT_MAX`` rows and checkpoints them otherwise; the
    join kernel broadcasts them. Past 4 passes each pass's assignment
    and centroids are lazily checkpointed to cut the lineage.

    ``output``: ``summary`` (default) or ``assignments`` (doc_id,
    cluster, dist2) of the last pass, both materialized by an eager
    checkpoint; or ``assignments_lazy``, the same table as the raw lazy
    plan for a SINGLE consumer, whose first action runs the Lloyd chain
    inline exactly once. The eager outputs cache the weights projection
    (MEMORY_AND_DISK) for the passes and release the cache before
    returning; the lazy output caches nothing, since its last consumer is
    unknown here — a caller that reads the weights again caches them
    itself, as ``ta_cluster_keywords`` does."""
    from pyspark import StorageLevel

    w = weights.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(word_col).alias("word"),
        F.col(weight_col).cast("long").alias("w"),
    )
    lazy = output == "assignments_lazy"
    if not lazy:
        # persist, not an eager localCheckpoint: the first action (pass
        # 0's seed collect) fills the cache, so no dedicated checkpoint
        # job or plan->RDD conversion of the whole input; MEMORY_AND_DISK
        # so a huge weights table spills instead of recomputing the
        # upstream TF-IDF per pass
        w = w.persist(StorageLevel.MEMORY_AND_DISK)

    spark = weights.sparkSession
    pivot = k <= _PIVOT_MAX_K
    cent_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            w.schema["word"],
            T.StructField("cw", T.LongType()),
        ]
    )
    ids = w.select("doc_id").distinct()
    # `rows`: the current centroids as local (cluster, word, cw) tuples
    # while the table is small. The pivot kernel then reads them as a
    # local table with exact Python ||c||^2 ints, which saves the eager
    # checkpoint job and the ||c||^2 collect job per pass (measured 2
    # jobs/pass off kmeans_documents at sf0.1). Pass 0 collects the seed
    # docs' weight rows and ranks them with the md5 twin, which folds the
    # seed-id collect in. After one oversize collect no later pass
    # tries again: the table stays ~k x active-vocab rows across passes.
    rows = _collect_small(w.join(_md5_first(ids, k), "doc_id")) if pivot else None
    probe = rows is not None
    if rows is not None:
        order = sorted({d for d, _, _ in rows}, key=_md5_key)
        rank = {d: i for i, d in enumerate(order)}
        rows = [(rank[d], word, x) for d, word, x in rows]
    else:
        cent = _seed_centroids(w, ids, k)
    # lineage cuts only pay for themselves on DEEP loops: each lazy
    # localCheckpoint costs real RDD-conversion time (measured ~0.5-1s
    # total at sf0.1) while Catalyst's ReusedExchange already serves the
    # repeated d2/cent subtrees from one shuffle when the plan is
    # shallow — same finding as components.pagerank_e8
    deep = n_assign_passes > 4
    d2 = _x2(w)
    if deep:
        d2 = d2.localCheckpoint(eager=False)  # cached at first use, reused per pass

    for p in range(max(n_assign_passes, 1)):
        if not pivot:
            assign = _assign_fixedpoint(w, d2, cent)
        else:
            if rows is None and probe:
                rows = _collect_small(cent)
                probe = rows is not None
            if rows is not None:
                cent = local_df(spark, rows, cent_schema)
                c2: dict[int, int] = {}
                for c, _, cw in rows:
                    c2[c] = c2.get(c, 0) + cw * cw
            else:
                # the checkpoint serves ||c||^2, the dot pivot and the update
                cent = cent.localCheckpoint(eager=True)
                c2 = {int(r["cluster"]): int(r["c2"]) for r in _sq_norms(cent).collect()}
            assign = _assign_fixedpoint_pivot(w, d2, cent, c2)
        if p == n_assign_passes - 1:
            break
        if deep:
            assign = assign.localCheckpoint(eager=False)  # feeds sizes + update
        cent = _centroid_update(w, assign)
        rows = None
        if deep:
            cent = cent.localCheckpoint(eager=False)  # cut per-iteration lineage
    if lazy:
        return assign
    if output != "assignments":
        assign = (
            assign.groupBy("cluster")
            .agg(
                F.count("*").cast("bigint").alias("n_members"),
                F.sum("dist2").cast("bigint").alias("sse_e8"),
            )
            .orderBy("cluster")
        )
    # eager: assignment consumers typically self-join (pair generation),
    # and a lazy checkpoint would run the Lloyd chain once per branch.
    # The checkpoint is the weights cache's last consumer; finally, so a
    # failing materialization cannot leak the cache either
    try:
        return assign.localCheckpoint(eager=True)
    finally:
        w.unpersist()


# Past this many clusters kmeans_fixedpoint assigns with the join kernel:
# the pivot kernel's row is one column per cluster.
_PIVOT_MAX_K = 256

_CENT_COLLECT_MAX = 65536  # centroid rows a driver collect may hold


def _collect_small(df: DataFrame) -> list[tuple] | None:
    """A (key, word, weight) table as local ``(int, word, int)`` tuples,
    or None when it holds more than ``_CENT_COLLECT_MAX`` rows."""
    got = df.limit(_CENT_COLLECT_MAX + 1).collect()
    if len(got) > _CENT_COLLECT_MAX:
        return None
    return [(int(a), word, int(x)) for a, word, x in got]


def _x2(w: DataFrame) -> DataFrame:
    """(doc_id, x2): each document's exact squared norm."""
    return w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("x2"))


def _sq_norms(cent: DataFrame) -> DataFrame:
    """(cluster, c2): each centroid's exact squared norm."""
    return cent.groupBy("cluster").agg(F.sum(F.col("cw") * F.col("cw")).alias("c2"))


def _seed_centroids(w: DataFrame, ids: DataFrame, k: int) -> DataFrame:
    """(cluster, word, cw): the weight rows of the k documents of ``ids``
    first in the md5 seed order, cluster = their rank."""
    seed_rows = _md5_first(ids, k).collect()
    seed_df = local_df(
        w.sparkSession,
        [(r["doc_id"], i) for i, r in enumerate(seed_rows)],
        "doc_id long, cluster int",
    )
    return w.join(F.broadcast(seed_df), "doc_id").select(
        "cluster", "word", F.col("w").alias("cw")
    )


def _nearest(dist: DataFrame) -> DataFrame:
    """(doc_id, cluster, dist2): each document's least (dist2, cluster)
    row of ``dist`` — the O32 argmin, lowest cluster on ties."""
    best = dist.groupBy("doc_id").agg(
        F.min_by(F.struct("cluster", "dist2"), F.struct("dist2", "cluster")).alias("b")
    )
    return best.select(
        "doc_id", F.col("b.cluster").alias("cluster"), F.col("b.dist2").alias("dist2")
    )


def _assign_fixedpoint_pivot(
    w: DataFrame, d2: DataFrame, cent: DataFrame, c2: dict[int, int]
) -> DataFrame:
    """Pivot-form of the fixed-point assignment: ONE groupBy(doc_id)
    pivot produces every per-cluster dot as a column, then the argmin is
    a pure row expression over the literal ‖c‖² values ``c2`` —
    replacing the (doc_id, cluster)-keyed shuffle + (doc_id, cluster)
    join + argmin groupBy of the join form with a single doc-keyed
    shuffle.

    Candidate clusters are exactly the keys of ``c2``, the clusters
    present in ``cent`` (an empty cluster is NOT a candidate — same
    contract as the join form's c2 cross join). Integer arithmetic is
    identical to the join form, so results are bit-equal (pinned by
    test). Right for k up to a few thousand (pivot width = k columns)."""
    clusters = sorted(c2)
    dots = (
        w.join(F.broadcast(cent), "word")
        .groupBy("doc_id")
        .pivot("cluster", clusters)
        .agg(F.sum(F.col("w") * F.col("cw")))
    )
    joined = d2.join(dots, "doc_id", "left")
    cands = [
        F.struct(
            (
                F.col("x2")
                + F.lit(c2[c])
                - 2 * F.coalesce(F.col(f"`{c}`"), F.lit(0).cast("long"))
            ).alias("dist2"),
            F.lit(c).cast("int").alias("cluster"),
        )
        for c in clusters
    ]
    best = F.array_min(F.array(*cands))
    return joined.select(
        "doc_id",
        best["cluster"].alias("cluster"),
        best["dist2"].alias("dist2"),
    )


def _assign_fixedpoint(w: DataFrame, d2: DataFrame, cent: DataFrame) -> DataFrame:
    """(doc_id, cluster, dist2) — exact-integer nearest-centroid pass.

    Same sparse expansion as ``_assign`` (dot via word join, missing
    pairs via the k-row cross join) but everything stays int64; dist2 is
    exactly Σ_union (w−c)², hence never negative — no clamp."""
    dots = (
        w.join(F.broadcast(cent), "word")
        .groupBy("doc_id", "cluster")
        .agg(F.sum(F.col("w") * F.col("cw")).alias("dot"))
    )
    dist = (
        d2.crossJoin(F.broadcast(_sq_norms(cent)))
        .join(dots, ["doc_id", "cluster"], "left")
        .select(
            "doc_id",
            "cluster",
            (
                F.col("x2") + F.col("c2") - 2 * F.coalesce(F.col("dot"), F.lit(0).cast("long"))
            ).alias("dist2"),
        )
    )
    return _nearest(dist)


def _probe_lists(w: DataFrame, d2: DataFrame, g: DataFrame, n_probe: int) -> DataFrame:
    """(doc_id, m): each doc's ``n_probe`` nearest coarse lists under the
    exact fixed-point key x2 + g2 − 2·dot, ties to the lowest list id —
    the same integer discipline as ``_assign_fixedpoint``, but keeping
    the TOP-n_probe lists instead of the argmin. The dot join expands to
    n·d·c rows with c = |lists| (the whole point: c ~ sqrt(k), never k)."""
    g2 = g.groupBy("m").agg(F.sum(F.col("gw") * F.col("gw")).alias("g2"))
    dots = (
        w.join(F.broadcast(g), "word")
        .groupBy("doc_id", "m")
        .agg(F.sum(F.col("w") * F.col("gw")).alias("dot"))
    )
    keyed = (
        d2.crossJoin(F.broadcast(g2))
        .join(dots, ["doc_id", "m"], "left")
        .select(
            "doc_id",
            "m",
            (
                F.col("x2") + F.col("g2") - 2 * F.coalesce(F.col("dot"), F.lit(0).cast("long"))
            ).alias("key"),
        )
    )
    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("key", "m"))
    return keyed.withColumn("_rn", rn).filter(F.col("_rn") <= n_probe).select("doc_id", "m")


# Fine-codebook (k×d cells) closure bound for the fused assignment
# kernel: 4e6 float64 cells ≈ 32 MB serialized — generous for the local
# profile (400×64 at sf1.0) yet conservative for executors; past it the
# scoring stays a distributed join (the codebook grows with the corpus).
_FUSED_MAX_CELLS = 4_000_000


def _rows_matrix(rows: list, key: str, val: str, width: int = 0, dtype=np.int64):
    """(ids, M): long-form ``(key, word, val)`` rows as a dense matrix,
    one row per distinct key in ascending order, at least ``width``
    columns and as many as the largest word needs."""
    ids = sorted({int(r[key]) for r in rows})
    width = max(width, max(int(r["word"]) for r in rows) + 1)
    idx = {j: i for i, j in enumerate(ids)}
    M = np.zeros((len(ids), width), dtype=dtype)
    for r in rows:
        M[idx[int(r[key])], int(r["word"])] = r[val]
    return ids, M


def _e4_batch(pdf, vec_col: str):
    """A pandas batch's dense vectors quantized to e4 as float64 ints —
    ``_round_half_away(x·1e4)``, the same double path as ``e_int``."""
    return _round_half_away(
        np.vstack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64))) * 10000.0
    )


def _rank_lists(X, G, g2, take: int):
    """(order, Xw): per row of the e4 batch ``X``, the row positions of
    its ``take`` nearest coarse lists in ``G`` by key g2 − 2·dot (the
    x2 term is constant per doc), and ``X`` fitted to G's width. Stable
    argsort over m-ascending rows is the (key, m) tie-break; every
    product is an integer below 2^53, exact in float64."""
    width = G.shape[1]
    if X.shape[1] >= width:
        Xw = X[:, :width]  # zero-dropped columns beyond width add no dot
    else:
        Xw = np.pad(X, ((0, 0), (0, width - X.shape[1])))
    return np.argsort(g2 - 2.0 * (Xw @ G.T), axis=1, kind="stable")[:, :take], Xw


def _probe_lists_numpy(
    dense: DataFrame, g_rows: list, n_probe: int, vec_col: str = "vec"
) -> DataFrame:
    """Arrow/numpy twin of :func:`_probe_lists` over the DENSE vector
    form: per batch, quantize to e4 (:func:`_e4_batch`) and rank the
    coarse lists with one matmul (:func:`_rank_lists`). The ranking is
    IDENTICAL to the join form's (pinned by test).

    Why this exists: the join form expands n·d·c rows per pass through
    a hash aggregate — the dominant stage of the hierarchical
    assignment (measured 10.6s of 26s at sf1.0). Here it is one
    (batch × d) @ (d × c) matmul. The codebook rides in the closure:
    c×d e4 ints with c ~ sqrt(2k) — ~17 MB even at k = 2×10⁷, so the
    closure stays broadcast-safe at any realistic corpus."""
    ms, G = _rows_matrix(g_rows, "m", "gw", dtype=np.float64)
    g2 = (G * G).sum(axis=1)  # exact: e4² ints < 2^53
    ms_arr = np.array(ms, dtype=np.int32)
    take = min(n_probe, len(ms))

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            order, _ = _rank_lists(_e4_batch(pdf, vec_col), G, g2, take)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), take),
                    "m": ms_arr[order].reshape(-1),
                }
            )

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("m", T.IntegerType())]
    )
    return dense.mapInPandas(probe, schema)


def _np_trunc_div(a, b):
    """Integer division truncating toward ZERO — numpy's ``//`` floors
    (differs on negatives), while Spark's DIV and DuckDB's ``//`` both
    truncate; signed centroid sums make the distinction load-bearing."""
    return np.sign(a) * np.sign(b) * (np.abs(a) // np.abs(b))


def _nearest_numpy(X, G, cand: list):
    """Per row of the int64 matrix ``X``, its nearest row of ``G`` among
    the ascending row ids ``cand`` under x2 + g2 − 2·dot; the first
    minimum wins, so ties go to the lowest id."""
    Gc = G[cand]
    keys = (
        (X * X).sum(axis=1)[:, None]
        + (Gc * Gc).sum(axis=1)[None, :]
        - 2 * (X[:, : G.shape[1]] @ Gc.T)
    )
    return np.asarray(cand)[np.argmin(keys, axis=1)]


def _coarse_model_numpy(f0_rows: list, n_list: int):
    """Driver-side exact-int replica of the coarse-quantizer chain over
    the COLLECTED fine seed vectors (k×d rows — the same payload the
    fused kernel already holds in its closure, so no new scale bound):
    md5-first coarse seeds → one assignment pass → (2s+n) trunc-div
    update. Returns (g_rows, G, nonempty): the coarse codebook as
    (m, word, gw) rows and as an int64 matrix indexed by list id, and
    the lists with a nonzero weight — the only candidates, exactly as
    the SQL's ``WHERE gw <> 0`` keeps zero rows out of the codebook.
    BIT-IDENTICAL to the join-form/SQL chain (pinned by the kernel
    parity + degenerate==exact tests): int64 matmuls (products < 2^63)
    and (key, id) tie-breaks. Exists purely to delete ~6 tiny Spark jobs
    per clustering (the measured fixed floor at small SF — the coarse
    chain is k-row work that never needed a cluster)."""
    js, S = _rows_matrix(f0_rows, "cluster", "cw")
    cseeds = [js.index(j) for j in sorted(js, key=_md5_key)[:n_list]]
    G0 = S[cseeds]
    ca1 = _nearest_numpy(S, G0, [m for m in range(len(cseeds)) if G0[m].any()])
    G = np.zeros((len(cseeds), S.shape[1]), dtype=np.int64)
    for m in np.unique(ca1):
        members = S[ca1 == m]
        n = members.shape[0]
        G[m] = _np_trunc_div(2 * members.sum(axis=0) + n, np.int64(2 * n))
    nonempty = [m for m in range(len(cseeds)) if G[m].any()]
    g_rows = [
        {"m": m, "word": w, "gw": int(G[m, w])}
        for m in nonempty
        for w in np.nonzero(G[m])[0]
    ]
    return g_rows, G, nonempty


def _quantize_rows_numpy(cent_rows: list, G, nonempty: list) -> list:
    """Driver-side quantization of (collected) fine centroids: each one's
    nearest nonempty coarse list under the same int64 key and tie-break
    as the distributed :func:`_quantize` — the cmap stage without a
    Spark job. Words beyond G's width still count in x2."""
    js, C = _rows_matrix(cent_rows, "cluster", "cw", G.shape[1])
    ms = _nearest_numpy(C, G, nonempty)
    return [{"cluster": int(j), "m": int(m)} for j, m in zip(js, ms)]


def _assign_fused_numpy(
    dense: DataFrame,
    g_rows: list,
    cent_rows: list,
    cmap_rows: list,
    n_probe: int,
    vec_col: str = "vec",
) -> DataFrame:
    """One-pass Arrow/numpy form of probe-then-score: per batch, ONE
    matmul ranks the coarse lists (:func:`_rank_lists`), then for each
    probed list one matmul scores ONLY its fine centroids and the
    per-doc argmin runs over the probed lists' bests — emitting
    (doc_id, cluster, dist2) directly. Zero shuffles for a whole
    assignment pass (the join form pays a word-join hash aggregate plus
    a window per pass); both codebooks ride the closure. Bit-identical
    to the join form (pinned by test): e4 quantization via
    :func:`_e4_batch` = ``e_int``; every key is x2 + c2 − 2·dot over
    ints < 2^53, exact in float64; per-list argmin takes the FIRST
    minimum over j-ascending rows and the cross-list reduce breaks ties
    by (dist2, j) — together the global (dist2, j) rule. ``cmap_rows``
    maps every cluster of ``cent_rows`` to its coarse list.

    Closure scale bound: the fine codebook is k×d values — fine for
    k = n/target at the measured SFs (400×64 at sf1.0) and far beyond,
    but k grows with the corpus, so :func:`kmeans_fixedpoint_ivf` only
    picks this kernel under ``_FUSED_MAX_CELLS`` and falls back to the
    distributed join scoring above it."""
    ms, G = _rows_matrix(
        g_rows, "m", "gw", max(int(r["word"]) for r in cent_rows) + 1, np.float64
    )
    js, C = _rows_matrix(cent_rows, "cluster", "cw", G.shape[1], np.float64)
    j2m = {int(r["cluster"]): int(r["m"]) for r in cmap_rows}
    # fine centroids grouped by their coarse list, j-ascending inside
    by_list: dict[int, list[int]] = {}
    for i, j in enumerate(js):
        by_list.setdefault(j2m[j], []).append(i)
    F_by_list = {
        m: (np.array([js[i] for i in idx], dtype=np.int32), C[idx], (C[idx] * C[idx]).sum(axis=1))
        for m, idx in by_list.items()
    }
    probe_ms = np.array(sorted(F_by_list), dtype=np.int32)  # nonempty lists only
    sel = [ms.index(m) for m in probe_ms]
    Gp = G[sel]
    g2p = (Gp * Gp).sum(axis=1)
    take = min(n_probe, len(probe_ms))

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _e4_batch(pdf, vec_col)
            x2 = (X * X).sum(axis=1)
            order, Xw = _rank_lists(X, Gp, g2p, take)
            probed = probe_ms[order]  # (n_b, take)
            best_d = np.full(len(pdf), np.inf)
            best_j = np.full(len(pdf), np.iinfo(np.int32).max, dtype=np.int64)
            for m in np.unique(probed):
                rows = np.nonzero((probed == m).any(axis=1))[0]
                js_m, Fm, c2 = F_by_list[int(m)]
                d = x2[rows, None] + c2[None, :] - 2.0 * (Xw[rows] @ Fm.T)
                loc = np.argmin(d, axis=1)  # first min = lowest j (j-ascending)
                dmin = d[np.arange(len(rows)), loc]
                jmin = js_m[loc].astype(np.int64)
                upd = (dmin < best_d[rows]) | (
                    (dmin == best_d[rows]) & (jmin < best_j[rows])
                )
                ridx = rows[upd]
                best_d[ridx] = dmin[upd]
                best_j[ridx] = jmin[upd]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "cluster": best_j.astype(np.int32),
                    "dist2": best_d.astype(np.int64),
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("dist2", T.LongType()),
        ]
    )
    return dense.mapInPandas(assign, schema)


def _assign_via_probes(
    w: DataFrame, d2: DataFrame, cent: DataFrame, probes: DataFrame, cmap: DataFrame
) -> DataFrame:
    """(doc_id, cluster, dist2): exact fixed-point argmin over ONLY the
    fine clusters whose coarse list the doc probes — candidate pairs are
    probes ⋈ cmap (fine cluster → coarse list), so per-doc work is
    n_probe·k/c fine centroids instead of k. Missing dots/norms coalesce
    to 0 exactly as in ``_assign_fixedpoint`` (a candidate stays a
    candidate even when its centroid shares no nonzero word with the
    doc)."""
    cand = probes.join(F.broadcast(cmap), "m").select("doc_id", "cluster")
    dots = (
        cand.join(w, "doc_id")
        .join(F.broadcast(cent), ["cluster", "word"])
        .groupBy("doc_id", "cluster")
        .agg(F.sum(F.col("w") * F.col("cw")).alias("dot"))
    )
    dist = (
        cand.join(d2, "doc_id")
        .join(F.broadcast(_sq_norms(cent)), "cluster", "left")
        .join(dots, ["doc_id", "cluster"], "left")
        .select(
            "doc_id",
            "cluster",
            (
                F.col("x2")
                + F.coalesce(F.col("c2"), F.lit(0).cast("long"))
                - 2 * F.coalesce(F.col("dot"), F.lit(0).cast("long"))
            ).alias("dist2"),
        )
    )
    return _nearest(dist)


def _assign_numpy_probes(
    w: DataFrame,
    dense: DataFrame,
    g_rows: list,
    cent: DataFrame,
    cmap: DataFrame,
    n_probe: int,
) -> DataFrame:
    """(doc_id, cluster, dist2): numpy coarse probes
    (:func:`_probe_lists_numpy`) + distributed join scoring
    (:func:`_assign_via_probes`). Only lists that HOLD at least one fine
    centroid are ranked: a doc probing only fine-empty lists would get
    zero candidates and silently vanish from the assignment."""
    lists = {r["m"] for r in cmap.select("m").distinct().collect()}  # <= c rows
    probes = _probe_lists_numpy(dense, [r for r in g_rows if r["m"] in lists], n_probe)
    return _assign_via_probes(w, _x2(w), cent, probes, cmap)


def _centroid_update(w: DataFrame, assign: DataFrame) -> DataFrame:
    """Per-(cluster, word) rounded-int mean over the assignment — the
    O33 HALF_UP rule ``(2s + n) div (2n)`` — the one linear stage of
    every fixed-point Lloyd pass."""
    csize = assign.groupBy("cluster").agg(F.count("*").alias("n"))
    return (
        w.join(assign.select("doc_id", "cluster"), "doc_id")
        .groupBy("cluster", "word")
        .agg(F.sum("w").alias("s"))
        .join(F.broadcast(csize), "cluster")
        .select(
            "cluster",
            "word",
            # DIV truncates toward zero in BOTH engines (Spark DIV and
            # DuckDB // agree on negatives — verified), so the rounded
            # mean is engine-exact for signed features too
            F.expr("(2 * s + n) DIV (2 * n)").cast("long").alias("cw"),
        )
        # drop exact zeros only — they contribute nothing to c2 or the
        # dot join; negative weights (dense signed features, e.g.
        # embeddings) must survive (!= 0, not > 0)
        .filter(F.col("cw") != 0)
    )


def _quantize(cent: DataFrame, g: DataFrame) -> DataFrame:
    """(cluster, m): each fine centroid's nearest coarse list — the
    centroids re-keyed as documents (long ids, like every weights table
    of the family) through :func:`_assign_fixedpoint`."""
    cw = cent.select(
        F.col("cluster").cast("long").alias("doc_id"), "word", F.col("cw").alias("w")
    )
    return _assign_fixedpoint(cw, _x2(cw), g).select(
        F.col("doc_id").cast("int").alias("cluster"), F.col("cluster").alias("m")
    )


def _fused_chain(
    w: DataFrame, dense: DataFrame, f0_rows: list, n_list: int, n_probe: int
) -> tuple[DataFrame, dict]:
    """The fused-kernel hierarchical chain, returning the final
    assignments AND the trained model — the coarse codebook G, the
    final fine centroids (c1), and the fine→coarse map (cmap2) — so a
    LATER batch can be quantized through the same model without
    re-clustering (the incremental-dedup shape). Assignments are
    lazily checkpointed."""
    g_rows, G, nonempty = _coarse_model_numpy(f0_rows, n_list)
    cmap1_rows = _quantize_rows_numpy(f0_rows, G, nonempty)
    # a1 has exactly ONE consumer — the centroid-update collect right
    # below — so it is not checkpointed; pass 2 reads only the COLLECTED
    # c1 rows, never a1 itself
    a1 = _assign_fused_numpy(dense, g_rows, f0_rows, cmap1_rows, n_probe)
    c1_rows = _centroid_update(w, a1).collect()
    cmap2_rows = _quantize_rows_numpy(c1_rows, G, nonempty)
    a2 = _assign_fused_numpy(dense, g_rows, c1_rows, cmap2_rows, n_probe)
    model = {
        "kind": "fused",
        "g_rows": g_rows,
        "cent_rows": c1_rows,
        "cmap_rows": cmap2_rows,
        "n_probe": n_probe,
    }
    # lazy: consumers self-join the assignments, but the caller's first
    # action materializes the checkpoint once for both branches — a
    # dedicated eager job would be pure overhead
    return a2.localCheckpoint(eager=False), model


def kmeans_fixedpoint_ivf_model(
    weights: DataFrame,
    k: int,
    n_list: int | None = None,
    n_probe: int = 2,
    id_col: str = "doc_id",
    word_col: str = "word",
    weight_col: str = "w_e4",
    dense: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """:func:`kmeans_fixedpoint_ivf` with the trained model EXPOSED:
    returns (assignments, model) where the model quantizes later
    batches via :func:`assign_with_model` without re-clustering — the
    incremental-dedup shape (train on the corpus once, route every
    arriving batch through the same lists). Requires the dense form.

    The model has TWO tiers, picked by the closure bound the batch path
    uses (``_FUSED_MAX_CELLS`` fine-codebook cells) and pinned
    bit-identical across the boundary by test:

    - **fused** (k×dim within the bound): both codebooks ride the
      model dict as collected rows; a batch assignment is ONE
      mapInPandas pass (streaming-safe — the streaming SemDeDup twin
      serves through this tier).
    - **distributed** (past the bound — the 100 TB shape, where
      k = n/target outgrows any closure): the model holds the fine
      centroid and fine→coarse map as eagerly-checkpointed DataFrames
      plus the c×d coarse codebook rows (c ~ sqrt(2k) — bounded at any
      scale); :func:`assign_with_model` routes batches through the
      numpy coarse probes + the distributed join-scoring tier, exactly
      the batch path's own fallback. Batch-only: the join scorer
      aggregates over a self-derived long form, which a micro-batch
      stream cannot express without watermarked stream-stream joins."""
    if dense is None:
        raise ValueError("kmeans_fixedpoint_ivf_model requires the dense form")
    return kmeans_fixedpoint_ivf(
        weights, k, n_list=n_list, n_probe=n_probe, id_col=id_col,
        word_col=word_col, weight_col=weight_col, dense=dense, _want_model=True,
    )


def dense_e4_long_form(df: DataFrame, id_col: str = "doc_id", vec_col: str = "vec") -> DataFrame:
    """(doc_id, word, x_e4): dense vectors as the fixed-point family's
    long-form input — word = vector position, x_e4 = ``e_int(x, 4)``,
    the quantization the numpy kernels' :func:`_e4_batch` reproduces
    (pinned by the parity tests)."""
    from ..functions.numeric import e_int

    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(vec_col).alias("word", "x")
    ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4"))


def assign_with_model(dense: DataFrame, model: dict) -> DataFrame:
    """(doc_id, cluster, dist2): quantize NEW vectors through an
    already-trained hierarchical model
    (:func:`kmeans_fixedpoint_ivf_model`'s output) — the trained
    centroids never move. A ``fused`` model runs one mapInPandas pass
    (both codebooks in the closure); a ``distributed`` model (large k —
    the codebook outgrew the closure bound) probes coarse lists with
    the numpy kernel and scores fine candidates with the distributed
    join tier, bit-identical to the fused route (pinned by test). This
    is the write-time shape incremental pipelines want: train once on
    the corpus, route every arriving batch through the same lists,
    compare only within assigned clusters."""
    if model.get("kind") == "distributed":
        w_b = dense_e4_long_form(dense).withColumnRenamed("x_e4", "w")
        return _assign_numpy_probes(
            w_b, dense, model["g_rows"], model["cent_df"], model["cmap_df"],
            model["n_probe"],
        )
    return _assign_fused_numpy(
        dense, model["g_rows"], model["cent_rows"], model["cmap_rows"],
        model["n_probe"],
    )


def kmeans_fixedpoint_ivf(
    weights: DataFrame,
    k: int,
    n_list: int | None = None,
    n_probe: int = 2,
    id_col: str = "doc_id",
    word_col: str = "word",
    weight_col: str = "w_e4",
    dense: DataFrame | None = None,
    _want_model: bool = False,
) -> DataFrame:
    """Hierarchically-assigned fixed-point K-Means (two assignment
    passes): the scale-safe form of :func:`kmeans_fixedpoint` for k that
    GROWS with the corpus (SemDeDup's k = n/target). Exact Lloyd's
    assignment is n·k distances per pass — with k ∝ n that is the
    measured n²/target cliff (SCALING.md round-5 curve: dedup_semantic
    4.9/18.8/50.3s over 10× data). Here each pass assigns through an IVF
    coarse quantizer instead:

    1. fine seeds: the k md5-first docs (same rule as the exact path);
    2. coarse codebook G: one fixed-point Lloyd pass over just those k
       seed VECTORS (re-keyed as documents), from the ``n_list``
       (default ceil(sqrt(2k)), the term-balancing choice) md5-first
       seed vectors — k-row work;
    3. per pass: every fine centroid is quantized to its nearest coarse
       list (k·c work), every doc probes its ``n_probe`` nearest lists
       (n·c work) and takes the exact fixed-point argmin over ONLY the
       fine centroids in those lists (n·(n_probe·k/c) work). Per-pass
       cost is n·(c + n_probe·k/c)·d — with c ~ sqrt(k) that is
       n·sqrt(k), i.e. n^1.5/sqrt(target) total instead of n²/target.

    Every stage is the SAME int64 discipline as the exact path (e4
    inputs, x2+c2−2·dot keys, (dist, cluster) tie-break, (2s+n) div (2n)
    updates), so a SQL engine replays it bit-for-bit — the dedup_semantic
    oracle does (plans/extensions2). Approximation note: results can
    differ from exact Lloyd (a doc whose true nearest fine centroid
    lives outside its probed lists lands in the best PROBED cluster) —
    the standard IVF tradeoff; with n_probe >= n_list it degenerates to
    the exact assignment.

    Kernel tiers, all bit-identical (pinned by test):

    - ``dense`` (columns ``doc_id``, ``vec`` — the SAME vectors as raw
      doubles, pre-quantization) given and the k×d fine codebook within
      ``_FUSED_MAX_CELLS``: the coarse chain runs driver-side in exact
      int64 numpy (:func:`_coarse_model_numpy`) and each assignment pass
      is ONE shuffle-free mapInPandas (:func:`_assign_fused_numpy`);
    - ``dense`` given past the bound: numpy coarse probes (the c×d
      codebook is bounded at any scale) + distributed join scoring of
      the fine candidates (:func:`_assign_numpy_probes`) — the k×d fine
      tables are broadcast, or shuffle-joined once they outgrow a
      broadcast;
    - no ``dense``: the all-join form (:func:`_probe_lists`), the
      reference the numpy kernels are tested against.

    Returns (doc_id, cluster, dist2) of the SECOND pass, checkpointed
    (consumers self-join it)."""
    import math

    if n_list is None:
        n_list = max(2, math.ceil(math.sqrt(2 * k)))
    # lazy: the first driver action over w (the seed pick) materializes
    # the checkpoint, with no dedicated job up front
    w = weights.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(word_col).alias("word"),
        F.col(weight_col).cast("long").alias("w"),
    ).localCheckpoint(eager=False)
    d2 = _x2(w)

    # seed pick: dense ids are unique by contract, so the n·d-row
    # distinct over the exploded form is skipped when dense is given —
    # the md5 ordering (and thus the picked set) is identical
    ids = dense.select("doc_id") if dense is not None else w.select("doc_id").distinct()
    # pass-1 fine centroids = the seed vectors (exact zeros dropped —
    # they contribute nothing to c2 or any dot; mirrors the oracle CTE)
    f0 = _seed_centroids(w, ids, k).filter(F.col("cw") != 0)
    # the fused tier is decided from the dense dim BEFORE building the
    # distributed coarse chain: within the bound the k×d fine codebook
    # is collected anyway, so the whole coarse chain (k-row work) runs
    # driver-side — ~6 tiny Spark jobs fewer per clustering, the
    # measured fixed floor at small SF
    dim = len(dense.head()["vec"]) if dense is not None else 0
    if dense is not None and k * dim <= _FUSED_MAX_CELLS:
        f0_rows = f0.collect()
        if f0_rows:
            a2, model = _fused_chain(w, dense, f0_rows, n_list, n_probe)
            return (a2, model) if _want_model else a2
    if _want_model and dense is None:
        raise ValueError("a distributed model still needs the dense form")
    f0 = f0.localCheckpoint(eager=True)

    # coarse codebook: one fixed-point Lloyd pass over the k seed vectors
    # (re-keyed by fine cluster id) from n_list md5-first seeds
    sw = f0.select(F.col("cluster").alias("doc_id"), "word", F.col("cw").alias("w"))
    g0 = _seed_centroids(sw, sw.select("doc_id").distinct(), n_list)
    g = _centroid_update(sw, _assign_fixedpoint(sw, _x2(sw), g0)).localCheckpoint(eager=True)
    g_probe = g.select(F.col("cluster").alias("m"), "word", F.col("cw").alias("gw"))
    g_rows = g_probe.collect() if dense is not None else None  # c×d rows, bounded

    def _pass(cent: DataFrame, cmap: DataFrame) -> DataFrame:
        if dense is not None:
            return _assign_numpy_probes(w, dense, g_rows, cent, cmap, n_probe)
        gl = g_probe.join(F.broadcast(cmap.select("m").distinct()), "m")
        return _assign_via_probes(w, d2, cent, _probe_lists(w, d2, gl, n_probe), cmap)

    a1 = _pass(f0, _quantize(f0, g)).localCheckpoint(eager=True)
    c1 = _centroid_update(w, a1).localCheckpoint(eager=True)
    # re-quantize the MOVED fine centroids against the same fixed G
    cmap2 = _quantize(c1, g)
    if _want_model:
        cmap2 = cmap2.localCheckpoint(eager=True)  # freeze the map the model holds
    a2 = _pass(c1, cmap2).localCheckpoint(eager=True)
    if not _want_model:
        return a2
    # the large-k model: centroid TABLES, not collected rows — c1 is k×d
    # rows, cmap2 is k rows, and g_rows is the c×d coarse codebook
    # (c ~ sqrt(2k), bounded at any scale) the numpy probe kernel needs
    return a2, {
        "kind": "distributed",
        "g_rows": g_rows,
        "cent_df": c1,
        "cmap_df": cmap2,
        "n_probe": n_probe,
    }


def kmeans_ml(
    spark: SparkSession,
    features: DataFrame,
    k: int,
    max_iter: int,
    seed: int = 42,
    id_col: str = "doc_id",
    word_col: str = "word",
    weight_col: str = "weight",
):
    """Fast non-parity path: Spark MLlib's KMeans over the same sparse
    long-form features (SURVEY.md §7 M4 — 'expose ml.KMeans as the fast
    non-parity path').

    Not reference-parity: k-means|| init, epsilon convergence, no 10dp
    centroid rounding. Use ``kmeans()`` when results must match the
    reference/numpy oracle; use this when you want MLlib's optimized
    distributed implementation (Breeze axpy kernels, init parallelism).

    Returns (assignments DataFrame (doc_id, cluster), fitted model).
    """
    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.linalg import SparseVector, VectorUDT

    # contiguous 0..V-1 indices via the two-phase distributed rank — a
    # global row_number() window would collapse the vocab table to one
    # partition, a real bottleneck at open-vocabulary scale (r3 verdict);
    # the total row count falls out of the same pass (no extra count job)
    from .etl import assign_sequential_ids

    vocab, dim = assign_sequential_ids(
        features.select(word_col).distinct(), [word_col], id_col="_idx", with_total=True
    )
    vocab = vocab.withColumn("_idx", (F.col("_idx") - 1).cast("int"))
    indexed = (
        features.join(F.broadcast(vocab), word_col)
        .groupBy(F.col(id_col).alias("doc_id"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_idx"), F.col(weight_col).alias("w")))
            ).alias("entries")
        )
    )

    # Deliberately a Python UDF (the engine's only one, off the parity
    # path): ml.functions.array_to_vector would avoid Python but builds a
    # DENSE dim-wide array per document first — re-creating the reference's
    # dense-vector memory cliff (O23) for wide vocabularies. SparseVector
    # construction keeps the row at nnz cost; this runs once per doc at
    # MLlib ingestion, not in any iterative loop.
    @F.udf(VectorUDT())
    def to_vector(entries):
        return SparseVector(dim, [e["_idx"] for e in entries], [e["w"] for e in entries])

    vecs = indexed.select("doc_id", to_vector("entries").alias("features"))
    model = MLKMeans(k=k, maxIter=max_iter, seed=seed, featuresCol="features").fit(vecs)
    assigned = model.transform(vecs).select(
        "doc_id", F.col("prediction").alias("cluster")
    )
    return assigned, model


def _assign_literal(
    docs_vec: DataFrame, centroids: dict[int, dict[str, float]]
) -> DataFrame:
    """Shuffle-free assignment pass over pre-collected sparse vectors:
    ``docs_vec`` plus the nearest ``cluster`` and its ``dist2``.

    The centroids enter the plan as ONE constant — a JSON array of
    (cluster, ||c||^2, word->weight map) parsed by ``from_json``, which
    Catalyst folds into a single literal — so the expression tree is the
    same size for any k and vocabulary. Per document, ``transform`` over
    the clusters folds the dot product over the document's own entries
    (sparse, exactly the terms the join path sums), dist2 = max(||x||^2 +
    ||c||^2 - 2x.c, 0) as in ``_assign``, and the argmin is ``array_min``
    over (dist2, cluster) structs — lexicographic struct ordering
    reproduces the min_by tie-break (lowest cluster on equal distance)
    exactly. JSON round-trips every double exactly (shortest-repr out,
    correctly rounded parse in), so the weights match the driver's.

    The pass is one SQL statement with the JSON bound as ``:centroids``:
    building it costs 8 py4j round trips, against ~300 for the same
    expression as Column calls."""
    consts = json.dumps(
        [
            {
                "cluster": c,
                # ||c||^2 in the dict's own order, as the centroid maps
                # were collected
                "c2": float(sum(v * v for v in centroids[c].values())),
                # a null word never matches (element_at on a null key is
                # null), as in the join path
                "cmap": {w: float(v) for w, v in centroids[c].items() if w is not None},
            }
            for c in sorted(centroids)
        ]
    )

    # `best` is its own column so the distances are computed once per row,
    # not once per field read from it
    return docs_vec.sparkSession.sql(
        f"""
        SELECT doc_id, entries, best.cluster AS cluster, best.dist2 AS dist2
        FROM (
          SELECT doc_id, entries, array_min(transform(
            from_json(:centroids, '{_CENTROIDS_TYPE}'),
            c -> named_struct(
              'dist2', greatest(x2 + c.c2 - 2 * aggregate(
                entries, 0D,
                (acc, e) -> acc + e.weight * coalesce(element_at(c.cmap, e.word), 0D)), 0D),
              'cluster', c.cluster))) AS best
          FROM {{docs_vec}}
        )""",
        args={"centroids": consts},
        docs_vec=docs_vec,
    )


def _update(
    assigned: DataFrame, word_type: T.DataType, n_clusters: int, max_entries: int
) -> tuple[dict[int, int], dict[int, float], list]:
    """The update step of either assignment kernel: ONE aggregation over
    the assigned vectors (``cluster``, ``dist2`` and the document's
    ``entries``), one SQL statement collected in one bounded job. Returns
    (sizes, SSE, centroid-sum rows (cluster, word, wsum)).

    Each document contributes its entries under (cluster, word) plus two
    sentinel entries with a NULL word: 1.0 under the key -1-2*cluster
    (summing to the cluster's size) and dist2 under -2-2*cluster (its
    SSE). Real keys keep cluster >= 0, so no word — not even a null one —
    collides with a sentinel, and the shuffle rows keep the width of the
    centroid sums (a count column would widen every row). Every sum runs
    over the same rows in the same order as separate aggregations would,
    so the values are bit-identical to them. ``word_type`` is the entries'
    word type, which the sentinels' NULL word takes: a string NULL would
    make concat coerce integer words to strings."""
    word = word_type.simpleString()
    rows = assigned.sparkSession.sql(
        f"""
        SELECT CASE WHEN pos > 1 THEN cluster ELSE -1 - 2 * cluster - pos END AS cluster,
               e.word AS word, sum(e.weight) AS wsum
        FROM (
          SELECT cluster, posexplode(concat(array(
            named_struct('word', CAST(NULL AS {word}), 'weight', 1D),
            named_struct('word', CAST(NULL AS {word}), 'weight', dist2)), entries)) AS (pos, e)
          FROM {{assigned}}
        )
        GROUP BY 1, 2
        -- the guard counts centroid rows only: at most 2 sentinels a cluster
        LIMIT {max_entries + 1 + 2 * n_clusters}""",
        # no parameters: an empty dict binds them in one round trip, None
        # in four (an empty Java array)
        args={},
        assigned=assigned,
    ).collect()
    sizes: dict[int, int] = {}
    sse: dict[int, float] = {}
    centroid_rows = []
    for r in rows:
        key = r["cluster"]
        if key >= 0:
            centroid_rows.append(r)
        elif key % 2:
            sizes[(-1 - key) // 2] = int(r["wsum"])
        else:
            sse[(-2 - key) // 2] = r["wsum"]
    return sizes, sse, centroid_rows


def _converged(old: dict[int, dict[str, float]], new: dict[int, dict[str, float]]) -> bool:
    return all(new.get(c) == old[c] for c in old)


def _assign(
    spark: SparkSession,
    docs_vec: DataFrame,
    centroids: dict[int, dict[str, float]],
) -> DataFrame:
    """One assignment pass: (doc_id, cluster, dist2) for every document.

    dist2(x, c) = ||x||^2 + ||c||^2 - 2 x.c over sparse rows: the dot
    product only needs words the document actually has (join on word with
    the broadcast centroid table); documents sharing no word with a
    centroid still get a row via the (doc_id, ||x||^2) x centroid_norms
    cross (k rows broadcast — BroadcastNestedLoopJoin, no shuffle of the
    docs).
    """
    c_rows = [
        (c, w, wt) for c, vec in centroids.items() for w, wt in vec.items()
    ]
    # the centroid words take the entries' word type, so integer words
    # stay Arrow-convertible and join without a cast
    c_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            docs_vec.schema["entries"].dataType.elementType["word"],
            T.StructField("cweight", T.DoubleType()),
        ]
    )
    c_df = local_df(spark, c_rows, c_schema)
    c_norms = local_df(
        spark,
        [(c, sum(v * v for v in vec.values())) for c, vec in centroids.items()],
        "cluster int, c2 double",
    )
    dots = (
        docs_vec.select("doc_id", F.inline("entries"))
        .join(F.broadcast(c_df), "word")
        .groupBy("doc_id", "cluster")
        .agg(F.sum(F.col("weight") * F.col("cweight")).alias("dot"))
    )
    all_pairs = docs_vec.select("doc_id", "x2").crossJoin(F.broadcast(c_norms))
    dist = (
        all_pairs.join(dots, ["doc_id", "cluster"], "left")
        .withColumn("dot", F.coalesce(F.col("dot"), F.lit(0.0)))
        .withColumn(
            "dist2",
            F.greatest(F.col("x2") + F.col("c2") - 2 * F.col("dot"), F.lit(0.0)),
        )
    )
    return _nearest(dist)
