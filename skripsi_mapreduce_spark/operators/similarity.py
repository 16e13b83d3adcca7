"""Similarity search over an embedding column (``array<float>``).

Two paths:

- ``topk_cosine``: brute-force exact top-k — broadcast the query vector,
  per-row dot product via higher-order ``aggregate``/``zip_with`` (JVM
  codegen, no Python), global TakeOrderedAndProject. This is the baseline
  and the verifier for approximate paths.
- ``lsh_topk_cosine``: the scale path — random-hyperplane LSH buckets
  (deterministic md5-derived hyperplanes so results are reproducible and
  oracle-checkable), candidate set = rows sharing the query's bucket in
  any table, exact re-rank inside candidates. At 100 TB the bucketed scan
  prunes ~(1 - tables/2^bits) of the data per probe; brute force stays
  available for exhaustive audits.

Determinism: dot products are summed as per-element
``round(x*y * 1e8) :: BIGINT`` (exact integer arithmetic, order-
independent, and both engines round doubles half-away-from-zero
identically) wherever results feed the hash-matched oracle — raw float
summation order would otherwise differ between engines. Integer folds
are also ~an order of magnitude cheaper than the decimal-type
alternative at millions of pairs.

Embedding near-dup (cosine >= threshold pairwise) lives here too since it
shares the kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import local_df, spread_scan

SCALE = 1e8  # fixed-point scale for exact cross-engine dot products


def _dot_i64(a, b):
    """Order-independent exact dot product: Σ round(a_i*b_i*1e8) as int64.

    Max |term| ~ 1e8 for unit-ish vectors, so even 10^9-dim sums stay far
    inside int64 range."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.round(x.cast("double") * y.cast("double") * SCALE).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _norm_i64(a):
    """sqrt of the fixed-point self-dot, back in real units."""
    return F.sqrt(_dot_i64(a, a).cast("double") / SCALE)


def cosine_col(a, b):
    """Cosine similarity column between two array<float/double> columns."""
    return ((_dot_i64(a, b).cast("double") / SCALE) / (_norm_i64(a) * _norm_i64(b))).alias(
        "cosine"
    )


def _py_norm_i64(vec: list[float]) -> float:
    """Driver-side twin of _norm_i64: same fixed-point fold, same sqrt.
    Rounds each double half-away-from-zero via exact Decimal expansion —
    bit-identical to both engines' ROUND(double)."""
    import decimal
    import math

    total = 0
    for x in vec:
        total += int(
            decimal.Decimal(x * x * SCALE).to_integral_value(rounding=decimal.ROUND_HALF_UP)
        )
    return math.sqrt(total / SCALE)


def topk_cosine(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to ``query_vec``; ties broken by id asc.

    The query vector travels as a literal array (broadcast-equivalent) and
    its norm is precomputed driver-side (one number — not re-folded per
    row); ordering + limit plans as TakeOrderedAndProject — each task
    keeps a k-row heap, no global sort, no full shuffle."""
    q = F.lit(query_vec).cast("array<double>")
    qn = _py_norm_i64(query_vec)
    scored = emb.select(
        F.col(id_col).alias("vec_id"),
        F.round(
            (_dot_i64(F.col(vec_col), q).cast("double") / SCALE)
            / (_norm_i64(F.col(vec_col)) * F.lit(qn)),
            6,
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id")).limit(k)


def topk_cosine_pandas(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched pandas-UDF backend for :func:`topk_cosine` — the
    vectorized-Python alternative to the JVM higher-order-function fold.

    Per Arrow batch, numpy does one (batch × dim) · (dim,) matmul with
    the same fixed-point quantization (round half away from zero at 1e8)
    as ``_dot_i64``, so scores are BIT-IDENTICAL to the built-in path
    (pinned by test). Exists as the measured comparison point and as the
    template for kernels that genuinely need numpy (the built-in path is
    the default: no Python in the hot loop, no Arrow transfer)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    qn = _py_norm_i64(query_vec)
    q = np.asarray(query_vec, dtype=np.float64)

    def score_batches(batches):
        for pdf in batches:
            mat = np.vstack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            # round half away from zero == floor(|x|+0.5)*sign — matches
            # both engines' ROUND(double) and decimal.ROUND_HALF_UP
            prod = mat * q
            dots = _round_half_away(prod * SCALE).sum(axis=1)
            self2 = _round_half_away(mat * mat * SCALE).sum(axis=1)
            nrm = np.sqrt(self2 / SCALE)
            raw = (dots / SCALE) / (nrm * qn)
            score = _round_half_away(raw * 1e6) / 1e6  # not np.round: banker's
            yield pd.DataFrame({"vec_id": pdf[id_col], "score": score})

    out_schema = T.StructType(
        [T.StructField("vec_id", T.LongType()), T.StructField("score", T.DoubleType())]
    )
    scored = emb.mapInPandas(score_batches, out_schema)
    return scored.orderBy(F.col("score").desc(), F.col("vec_id")).limit(k)


def _round_half_away(x):
    """numpy round-half-away-from-zero (np.round is banker's rounding)."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def topk_cosine_many(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
    max_queries: int = 10_000,
) -> DataFrame:
    """Batched exact top-k: one pass over the corpus answers EVERY query
    — the shape real retrieval workloads have (N queries × M vectors,
    not one query at a time). Returns (query_id, vec_id, score), top-k
    per query, scores bit-identical to :func:`topk_cosine` (pinned by
    test).

    Kernel: the query matrix (≤ max_queries × dim — guarded) rides in
    the closure; each Arrow batch computes all (vector, query) scores
    with the e8 fixed-point quantization, then keeps only its LOCAL
    top-k per query before anything leaves the task — the map-side
    combine for top-k, so the shuffle carries ≤ partitions × n_queries
    × k narrow rows no matter the corpus size. A final per-query window
    over that bounded set finishes the ranking. One corpus scan total vs
    n_queries scans for the single-query loop."""
    import numpy as np

    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    q_rows = queries.select(q_id_col, q_vec_col).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"{len(q_rows)} queries > max_queries={max_queries} — chunk the "
            "query set (the matrix rides driver->executor)"
        )
    q_ids = [r[0] for r in q_rows]
    Q = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    qn = np.array([_py_norm_i64([float(x) for x in r[1]]) for r in q_rows])
    nq = len(q_ids)

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            self2 = _round_half_away(mat * mat * SCALE).sum(axis=1)
            nrm = np.sqrt(self2 / SCALE)
            ids = pdf[id_col].to_numpy()
            out_q, out_v, out_s = [], [], []
            for qi in range(nq):
                dots = _round_half_away(mat * Q[qi] * SCALE).sum(axis=1)
                raw = (dots / SCALE) / (nrm * qn[qi])
                score = _round_half_away(raw * 1e6) / 1e6
                top = min(k, len(score))
                # local top-k: order by (-score, vec_id) like the window
                order = np.lexsort((ids, -score))[:top]
                out_q.extend([q_ids[qi]] * top)
                out_v.extend(ids[order])
                out_s.extend(score[order])
            yield pd.DataFrame({"query_id": out_q, "vec_id": out_v, "score": out_s})

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    local = emb.select(id_col, vec_col).mapInPandas(score_batches, schema)
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _plane_signs(p: int, dim: int) -> list[float]:
    """Hyperplane p's +1/-1 coordinates from md5 parity — reproducible in
    any engine with md5, no RNG state."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest(), 16) % 2 else -1.0
        for i in range(dim)
    ]


def _proj_i64(vec_col, signs: list[float]) -> F.Column:
    """Fixed-point signed projection: Σ round(sign_i * v_i * 1e8)::int64 —
    order-independent, engine-exact."""
    return F.aggregate(
        F.zip_with(
            vec_col,
            F.lit(signs).cast("array<double>"),
            lambda x, s: F.round(x.cast("double") * s * F.lit(SCALE)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def hyperplane_signs(vec_col, dim: int, n_planes: int = 8) -> F.Column:
    """Deterministic random-hyperplane LSH bucket id (0..2^n_planes-1).

    Bucket bit p = 1 iff Σ_i round(sign(p,i)*v_i*1e8)::int64 > 0 — the
    projection uses the same fixed-point fold as the dot products, so
    bucket assignment is exact and identical across engines (a float sum
    could flip a near-zero projection's sign on summation order)."""
    bits = []
    for p in range(n_planes):
        proj = _proj_i64(vec_col, _plane_signs(p, dim))
        bits.append(F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def random_projection(
    emb: DataFrame,
    dim: int,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "numpy",
) -> DataFrame:
    """JL-style dimensionality reduction: project each embedding onto
    ``out_dim`` deterministic ±1 hyperplanes (the Achlioptas sign family,
    drawn from md5 parity — the SAME family as the LSH hyperplanes, so
    bucket bit p of ``hyperplane_signs`` is exactly the sign of
    coordinate p here). Returns (vec_id, proj_e8: array<long>) with each
    coordinate an e8-scaled fixed-point integer — order-independent and
    engine-exact, so even the compressed representation is
    oracle-checkable.

    Scale: one narrow projection over the scan — no shuffle. Downstream
    consumers (coarse ANN, clustering, visual inspection) read out_dim
    longs instead of ``dim`` floats: at 100 TB the compressed table is
    out_dim/dim of the column bytes and the projection can be computed
    at WRITE time like the LSH bucket.

    ``kernel`` follows SCALING.md's kernel-selection rule: the work is
    per-row × out_dim interpreted HOF folds (higher-order lambdas are
    NOT codegen'd), which is pair-shaped as out_dim grows — ``"numpy"``
    (default) runs one Arrow-batched matmul-shaped pass against the
    out_dim × dim sign matrix, bit-identical to the fold (pinned by
    test); ``"hof"`` keeps the pure-JVM expression path for audits and
    zero-Python deployments."""
    if kernel == "numpy":
        import numpy as np

        from pyspark.sql import types as T

        S = np.array([_plane_signs(p, dim) for p in range(out_dim)], dtype=np.float64)

        def project(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame({"vec_id": pd.array([], dtype="int64"),
                                        "proj_e8": []})
                    continue
                mat = np.vstack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
                # Round each term to int64 BEFORE summing — the HOF twin
                # (_proj_i64) accumulates in int64, and a float64 sum of
                # rounded terms only matches while it stays below 2^53.
                cols = [
                    _round_half_away(mat * S[p] * SCALE)
                    .astype(np.int64)
                    .sum(axis=1)
                    for p in range(out_dim)
                ]
                out = np.stack(cols, axis=1)
                yield pd.DataFrame({"vec_id": pdf[id_col], "proj_e8": list(out)})

        schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("proj_e8", T.ArrayType(T.LongType())),
            ]
        )
        return emb.select(id_col, vec_col).mapInPandas(project, schema)
    coords = [_proj_i64(F.col(vec_col), _plane_signs(p, dim)) for p in range(out_dim)]
    return emb.select(
        F.col(id_col).alias("vec_id"), F.array(*coords).alias("proj_e8")
    )


def query_bucket(query_vec: list[float], n_planes: int = 8) -> int:
    """Driver-side twin of hyperplane_signs for a literal query vector."""
    import decimal

    qbits = 0
    for p in range(n_planes):
        signs = _plane_signs(p, len(query_vec))
        proj = 0
        for s, v in zip(signs, query_vec):
            proj += int(
                decimal.Decimal(v * s * SCALE).to_integral_value(
                    rounding=decimal.ROUND_HALF_UP
                )
            )
        if proj > 0:
            qbits += 2**p
    return qbits


def lsh_topk_cosine(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates = rows in the query's hyperplane
    bucket (re-ranked exactly). At scale, write the table bucketed by
    ``bucket`` so a probe scans one bucket's files only (partition
    pruning); recall is tuned by n_planes and multi-probe."""
    dim = len(query_vec)
    bucketed = emb.withColumn("bucket", hyperplane_signs(F.col(vec_col), dim, n_planes))
    cands = bucketed.filter(F.col("bucket") == query_bucket(query_vec, n_planes))
    return topk_cosine(cands, query_vec, k, id_col, vec_col)


def _py_dot_i64(a: list[float], b: list[float]) -> int:
    """Driver-side twin of _dot_i64: Σ round_half_up(a_i*b_i*1e8) as int —
    bit-identical to the engine fold (exact Decimal expansion of the
    product double, same as _py_norm_i64)."""
    import decimal

    return sum(
        int(decimal.Decimal(x * y * SCALE).to_integral_value(rounding=decimal.ROUND_HALF_UP))
        for x, y in zip(a, b)
    )


def _md5_first(df: DataFrame, n: int, id_col: str = "doc_id") -> DataFrame:
    """The ``n`` rows of ``df`` with the smallest ``(md5(id), id)``: the
    engine's one deterministic, engine-portable seed order (a SQL oracle
    replays it as ``ORDER BY md5(CAST(id AS VARCHAR)), id``). Every seed
    pick uses it: the index/codebook builders through
    :func:`_md5_seed_vectors` and the fixed-point K-Means family's fine
    and coarse seeds. :func:`_md5_key` is its Python twin."""
    return df.orderBy(F.md5(F.col(id_col).cast("string")), id_col).limit(n)


def _md5_key(i: int) -> tuple[str, int]:
    """Python twin of :func:`_md5_first`'s sort key: hashlib md5 of the
    decimal string equals Spark's ``md5(cast(id as string))``."""
    import hashlib

    return hashlib.md5(str(i).encode()).hexdigest(), i


def _md5_seed_vectors(
    emb, n: int, id_col: str, vec_col: str, needed: str | None = None
) -> dict[int, list[float]]:
    """The engine's ONE deterministic seed draw (:func:`_md5_first`,
    which the fixed-point K-Means seeds use too) as a {0..n-1: vector}
    table — shared by every index/codebook builder (ivf_index, pq_topk,
    ivfpq_topk, ivfpq_rerank_topk_many, write_ivfpq_partitioned) so the
    cast to ``list[float]`` cannot drift between them (oracle parity and
    append==rebuild both depend on all sites staying in lockstep —
    round-9 review finding). ``needed`` (a description of the
    requirement) turns a short corpus into a loud ValueError; None keeps
    the historical ivf_index behavior of returning fewer rows."""
    seed_rows = _md5_first(
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")), n, "_id"
    ).collect()
    if needed is not None and len(seed_rows) < n:
        raise ValueError(
            f"corpus holds {len(seed_rows)} vectors but the index needs "
            f"{needed} distinct seed rows; shrink the codebook/list knobs "
            "or grow the corpus"
        )
    return {i: [float(x) for x in r["_v"]] for i, r in enumerate(seed_rows)}


def ivf_index(
    emb: DataFrame,
    n_list: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fixed_point: bool = False,
    kernel: str = "numpy",
) -> tuple[DataFrame, dict[int, list[float]]]:
    """IVF coarse quantizer: assign every vector to its nearest of
    ``n_list`` coarse centroids (its inverted list). Returns the indexed
    DataFrame (+ ``list_id`` column) and the centroid table.

    Centroids are the ``n_list`` vectors with the smallest
    ``(md5(id), id)`` — a deterministic, engine-portable seed pick (the
    same device as kmeans_fixedpoint's init). IVF-flat quality is
    dominated by n_probe, and a deterministic index beats a marginally
    tighter nondeterministic one for reproducible pipelines; callers
    wanting trained centroids can refine with kmeans_ml and re-assign.

    Assignment is n_list fused zip_with folds against LITERAL centroid
    arrays — map-side, shuffle-free, whole-stage codegen. At scale,
    WRITE the table partitioned/bucketed by ``list_id``: a probe then
    scans n_probe/n_list of the data (partition pruning), which is the
    entire point of IVF.

    ``fixed_point`` switches the assignment keys to the repo's e8
    integer dot products (``_dot_i64``) — order-independent and
    engine-exact, so the coarse quantizer itself becomes
    oracle-reproducible in DuckDB (the sim_topk_ivf entry); the default
    double path keeps the cheaper plain fold.

    ``kernel`` selects the fixed-point assignment backend (SCALING.md's
    kernel-selection rule: interpreted HOF folds are fine per-row, but
    the coarse quantizer is per-row x n_list — pair-shaped as n_list
    grows). ``"numpy"`` (default) runs one Arrow-batched matmul-shaped
    pass against the n_list x dim centroid matrix, bit-identical to the
    HOF fold (pinned by test); ``"hof"`` keeps the pure-JVM expression
    path for audits and zero-Python deployments."""
    centroids = _md5_seed_vectors(emb, n_list, id_col, vec_col)
    if fixed_point:
        if kernel == "numpy":
            return _ivf_assign_numpy(emb, centroids, vec_col), centroids
        # cached placeholder expression tree (same driver-cost pattern as
        # bpe._apply_merge_cached): n_list fixed-point folds are ~1000
        # py4j Column nodes, rebuilt-from-scratch cost ~0.5-1s per call;
        # bind the data-dependent centroid literals via withColumn and
        # let Catalyst constant-fold them into the lambdas
        out = emb.withColumn("_ivf_v", F.col(vec_col))
        for lid in sorted(centroids):
            c = centroids[lid]
            out = out.withColumn(f"_ivf_c{lid}", F.lit(c).cast("array<double>"))
            out = out.withColumn(f"_ivf_c2_{lid}", F.lit(_py_dot_i64(c, c)))
        out = out.withColumn("list_id", _ivf_assign_cached(n_list)).drop(
            "_ivf_v", *[f"_ivf_c{i}" for i in centroids], *[f"_ivf_c2_{i}" for i in centroids]
        )
        return out, centroids
    cand = []
    for lid in sorted(centroids):
        c = centroids[lid]
        # ||v||² is constant across candidates — argmin only needs
        # ||c||² − 2·v·c; ties break to the lowest list id (struct order)
        c2 = sum(x * x for x in c)
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.lit(c).cast("array<double>"),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        key = F.lit(c2) - 2 * dot
        cand.append(F.struct(key.alias("key"), F.lit(lid).alias("lid")))
    best = F.array_min(F.array(*cand))
    return emb.withColumn("list_id", best["lid"]), centroids


_IVF_ASSIGN_EXPRS: dict[int, F.Column] = {}


def _ivf_assign_cached(n_list: int) -> F.Column:
    """The fixed-point argmin-assignment Column tree over placeholder
    columns ``_ivf_v`` / ``_ivf_c{i}`` / ``_ivf_c2_{i}``, built once per
    (process, n_list). Semantics identical to the inline form: key_i =
    ||c_i||²_e8 − 2·(v·c_i)_e8 as int64, argmin with lowest-list-id
    tie-break via struct ordering."""
    if n_list not in _IVF_ASSIGN_EXPRS:
        cand = [
            F.struct(
                (F.col(f"_ivf_c2_{lid}") - 2 * _dot_i64(F.col("_ivf_v"), F.col(f"_ivf_c{lid}")))
                .cast("long")
                .alias("key"),
                F.lit(lid).alias("lid"),
            )
            for lid in range(n_list)
        ]
        _IVF_ASSIGN_EXPRS[n_list] = F.array_min(F.array(*cand))["lid"]
    return _IVF_ASSIGN_EXPRS[n_list]


def _ivf_assign_numpy(
    emb: DataFrame, centroids: dict[int, list[float]], vec_col: str
) -> DataFrame:
    """Arrow/numpy coarse-assignment kernel: input schema + ``list_id``.

    Per Arrow batch, one vectorized pass computes every (vector, list)
    fixed-point key — key_i = ||c_i||²_e8 − 2·(v·c_i)_e8 as int64, the
    SAME quantization as ``_dot_i64`` (products in double, round half
    away from zero at 1e8, integer sum), so assignments are BIT-IDENTICAL
    to the HOF expression path (pinned by test). ``np.argmin`` takes the
    first minimum, reproducing the struct-min lowest-list-id tie-break.

    Why this exists: the HOF path is n_list interpreted folds PER VECTOR
    (higher-order functions sit outside whole-stage codegen) — per-row x
    n_list is pair-shaped work as n_list grows, the exact situation
    SCALING.md's kernel rule reserves for Arrow/numpy. Here the batch
    does n_list rounded elementwise products over a (batch x dim) matrix
    — matmul-shaped, no Python per row. Centroids (n_list x dim) ride in
    the serialized closure (KBs); vectors never leave their partitions."""
    import numpy as np

    from pyspark.sql import types as T

    n_list = len(centroids)
    C = np.array([centroids[i] for i in range(n_list)], dtype=np.float64)
    c2 = np.array([_py_dot_i64(centroids[i], centroids[i]) for i in range(n_list)])
    c2 = c2.astype(np.float64)  # < 2^53 — exact in double

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                out = pdf.copy()
                out["list_id"] = np.array([], dtype=np.int32)
                yield out
                continue
            mat = np.vstack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            # keys: (batch x n_list); each dot is Σ_j round_half_away(
            # (x_j * c_ij) * 1e8) — per-element rounding forbids a true
            # matmul, so loop the n_list rows (vectorized over the batch)
            keys = np.empty((len(pdf), n_list), dtype=np.float64)
            for i in range(n_list):
                prod = mat * C[i]
                dots = _round_half_away(prod * SCALE).sum(axis=1)
                keys[:, i] = c2[i] - 2.0 * dots
            out = pdf.copy()
            out["list_id"] = np.argmin(keys, axis=1).astype(np.int32)
            yield out

    schema = T.StructType(list(emb.schema.fields) + [T.StructField("list_id", T.IntegerType())])
    return emb.mapInPandas(assign, schema)


def ivf_topk_cosine(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_list: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fixed_point: bool = False,
    kernel: str = "numpy",
) -> DataFrame:
    """IVF-flat approximate top-k: probe the ``n_probe`` inverted lists
    whose centroids are nearest the query, exact re-rank inside them.
    The complement of the LSH path: data-dependent partitions (clusters)
    instead of data-oblivious hyperplanes — better list balance on
    clustered corpora, same pruning arithmetic (probes scan
    n_probe/n_list of the table when stored partitioned by list)."""
    indexed, centroids = ivf_index(
        emb, n_list, id_col, vec_col, fixed_point=fixed_point, kernel=kernel
    )
    q2 = sum(x * x for x in query_vec)

    def _key(c: list[float]) -> float:
        if fixed_point:
            return float(_py_dot_i64(c, c) - 2 * _py_dot_i64(query_vec, c))
        return q2 + sum(x * x for x in c) - 2 * sum(a * b for a, b in zip(query_vec, c))

    probe_ids = sorted(sorted(centroids), key=lambda lid: (_key(centroids[lid]), lid))[
        :n_probe
    ]
    cands = indexed.filter(F.col("list_id").isin(probe_ids))
    return topk_cosine(cands, query_vec, k, id_col, vec_col)


def ivf_topk_cosine_many(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_list: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
    max_queries: int = 10_000,
) -> DataFrame:
    """Batched IVF retrieval: ONE pruned corpus pass answers EVERY
    query. Per query the ``n_probe`` nearest lists are picked
    driver-side (n_list × n_queries fixed-point keys — small by
    construction, guarded by ``max_queries``), the (query_id, list_id)
    probe table broadcasts, and the single scan of the indexed corpus
    expands each row to exactly the queries probing its list. Exact
    fixed-point re-rank per query, ties by id — scores BIT-IDENTICAL to
    :func:`ivf_topk_cosine` run per query (pinned by test). Returns
    (query_id, vec_id, score), top-k per query.

    The 100 TB shape this buys over a per-query loop: the corpus is
    read once instead of n_queries times, each list's bytes are touched
    only if ANY query probes it (partition pruning on a
    write_ivf_partitioned store via `list_id IN (union of probes)`),
    and the only shuffle is the per-query top-k window over candidate
    rows — Σ_q (n_probe/n_list)·n narrow rows, never n_queries × n."""
    indexed, centroids = ivf_index(emb, n_list, id_col, vec_col, fixed_point=True)
    qrows = queries.select(q_id_col, q_vec_col).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"{len(qrows)} queries exceeds max_queries={max_queries}; "
            "batch the query table"
        )
    pairs = []
    for r in qrows:
        qv = [float(x) for x in r[q_vec_col]]
        qn = _py_norm_i64(qv)
        keys = sorted(
            sorted(centroids),
            key=lambda lid: (
                float(_py_dot_i64(centroids[lid], centroids[lid]))
                - 2.0 * _py_dot_i64(qv, centroids[lid]),
                lid,
            ),
        )[:n_probe]
        pairs += [(int(r[q_id_col]), float(qn), qv, int(lid)) for lid in keys]
    spark = emb.sparkSession
    probe_df = local_df(
        spark, pairs, f"{q_id_col} long, _qn double, _qv array<double>, list_id int"
    )
    cands = indexed.join(F.broadcast(probe_df), "list_id")
    scored = cands.select(
        q_id_col,
        F.col(id_col).alias("vec_id"),
        F.round(
            (_dot_i64(F.col(vec_col), F.col("_qv")).cast("double") / SCALE)
            / (_norm_i64(F.col(vec_col)) * F.col("_qn")),
            6,
        ).alias("score"),
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy(q_id_col).orderBy(F.desc("score"), "vec_id")
    )
    return (
        scored.withColumn("_rn", rn)
        .filter(F.col("_rn") <= k)
        .select(q_id_col, "vec_id", "score")
    )


def auto_n_planes(n_vectors: int, target_bucket_size: int = 64, floor: int = 4) -> int:
    """Hyperplane count for ``n_vectors`` so the EXPECTED bucket size
    stays ~``target_bucket_size``: planes = ceil(log2(n / target)).

    This is the measured scaling knob (SCALING.md round-4 curve): with
    planes held constant, in-bucket pair work grows ~n² (47.8s at sf1.0);
    scaling planes with log n restores near-linearity (17.0s). Multi-probe
    widens candidates by (planes+1)×, so bucket count must OUTPACE n —
    hence ceil, plus a floor for tiny inputs."""
    import math

    if n_vectors <= target_bucket_size:
        return floor
    return max(floor, math.ceil(math.log2(n_vectors / target_bucket_size)))


def pq_encode(
    emb: DataFrame,
    centroids: dict[int, list[float]],
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding: input schema + ``codes``
    (array<int>, one code per subspace) — each vector compressed to m
    codebook ids (m bytes at n_codes<=256 vs dim floats: 32× smaller at
    dim=64/m=8).

    Codebook: ``centroids`` maps code -> FULL vector (the md5-min seed
    pick, shared across subspaces — deterministic and SQL-replayable);
    subspace s uses coordinates [s·dim/m, (s+1)·dim/m). code_s(v) =
    argmin_c ||v_s − c_s||² over the e8 fixed-point keys
    (c_s·c_s)_e8 − 2·(v_s·c_s)_e8, ties to the lowest code — the same
    quantization discipline as the IVF coarse assigner, vectorized the
    same way (Arrow batches, numpy, no Python per row)."""
    import numpy as np

    from pyspark.sql import types as T

    n_codes = len(centroids)
    C = np.array([centroids[i] for i in range(n_codes)], dtype=np.float64)
    dim = C.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    # per-subspace centroid self-dots, exact fixed point (Decimal twin)
    c2 = np.empty((m, n_codes), dtype=np.float64)
    for s in range(m):
        for c in range(n_codes):
            sub = centroids[c][s * d_sub : (s + 1) * d_sub]
            c2[s, c] = float(_py_dot_i64(sub, sub))

    def encode(batches):
        for pdf in batches:
            out = pdf.copy()
            if len(pdf) == 0:
                out["codes"] = [[]][:0]
                yield out
                continue
            mat = np.vstack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                vs = mat[:, s * d_sub : (s + 1) * d_sub]
                keys = np.empty((len(pdf), n_codes), dtype=np.float64)
                for c in range(n_codes):
                    dots = _round_half_away(vs * C[c, s * d_sub : (s + 1) * d_sub] * SCALE).sum(
                        axis=1
                    )
                    keys[:, c] = c2[s, c] - 2.0 * dots
                codes[:, s] = np.argmin(keys, axis=1)  # first min = lowest code
            out["codes"] = list(codes)
            yield out

    schema = T.StructType(
        list(emb.schema.fields) + [T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )
    return emb.mapInPandas(encode, schema)


def pq_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: dict[int, list[float]] | None = None,
) -> DataFrame:
    """PQ-ADC approximate top-k by squared Euclidean distance: returns
    ``(vec_id, adc_e8)`` ascending (ties by id). The asymmetric-distance
    trick: the query is NOT quantized — per subspace, its e8 distance to
    each of the n_codes centroids goes into an m × n_codes lookup table
    (driver-side: m·n_codes·d_sub multiplies), and every encoded vector
    scores as Σ_s table[s][code_s] — m integer array lookups per row,
    pure JVM expressions over literal arrays, then TakeOrdered.

    At 100 TB this is the scan-the-codes tier: the scan reads m small
    ints per vector instead of dim floats (encode once at write time),
    and the ADC scan composes with IVF pruning (store codes partitioned
    by list_id). Exact re-rank of the top candidates (topk_cosine on the
    survivors) is the standard follow-up; here the ADC ranking itself is
    the adjudicated surface (every number int64)."""
    if centroids is None:
        centroids = _md5_seed_vectors(emb, n_codes, id_col, vec_col)
    dim = len(query_vec)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    # ADC table: cell[s][c] = ||q_s - c_s||² in e8 fixed point
    table: list[list[int]] = []
    for s in range(m):
        qs = query_vec[s * d_sub : (s + 1) * d_sub]
        q2 = _py_dot_i64(qs, qs)
        row = []
        for c in range(n_codes):
            cs = centroids[c][s * d_sub : (s + 1) * d_sub]
            row.append(q2 + _py_dot_i64(cs, cs) - 2 * _py_dot_i64(qs, cs))
        table.append(row)
    encoded = pq_encode(emb, centroids, m, id_col, vec_col)
    score = sum(
        (
            F.element_at(F.lit(table[s]).cast("array<long>"), F.col("codes")[s] + 1)
            for s in range(m)
        ),
        F.lit(0).cast("long"),
    )
    return (
        encoded.select(F.col(id_col).alias("vec_id"), score.alias("adc_e8"))
        .orderBy("adc_e8", "vec_id")
        .limit(k)
    )


def pq_rerank_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank_mult: int = 8,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist → exact re-rank: the standard follow-up
    :func:`pq_topk` documents. The ADC scan ranks by compressed codes
    (m int lookups/row) and keeps ``rerank_mult * k`` candidates; the
    exact e8 cosine kernel then re-scores ONLY that shortlist and
    returns the top ``k`` as (vec_id, score) — identical scores to
    :func:`topk_cosine`, so precision is 1.0 and recall equals shortlist
    containment (measured containment curve in SCALING.md: at sf0.01,
    m=8/32 codes reaches 0.9 at an 8k shortlist, 1.0 at 16k).

    At 100 TB: the corpus scan stays the m-byte ADC tier; the exact pass
    touches rerank_mult·k rows — a broadcast-joined sliver, so re-rank
    cost is independent of corpus size."""
    shortlist = pq_topk(
        emb, query_vec, k=rerank_mult * k, m=m, n_codes=n_codes,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col("vec_id").alias(id_col))
    cands = emb.join(F.broadcast(shortlist), id_col)
    return topk_cosine(cands, query_vec, k, id_col, vec_col)


def auto_n_probe(
    n_list: int,
    target_recall: float = 0.9,
    recall_curve: dict[int, float] | None = None,
) -> int:
    """Probe budget for a recall target — the IVF twin of
    :func:`auto_n_planes`. With a measured (n_probe → recall@k) curve
    from the sim_recall_ivf harness, returns the SMALLEST n_probe whose
    measured recall meets the target (the right way: calibrate on your
    own corpus). Without a curve, assumes the worst case — unstructured
    embeddings spread the true neighbors uniformly over lists, so
    E[recall] ≈ n_probe/n_list — and returns ceil(target · n_list).
    Clustered real corpora hit the target at far lower budgets; that gap
    is IVF's entire value, which is why the measured curve wins over the
    closed form whenever one exists."""
    import math

    if recall_curve:
        for p in sorted(recall_curve):
            if recall_curve[p] >= target_recall:
                return min(p, n_list)
        # The measured curve never reaches the target: the honest answer
        # is the exhaustive scan, NOT the closed form — the caller's own
        # measurements already proved smaller budgets insufficient.
        return n_list
    return min(n_list, math.ceil(target_recall * n_list))


def corpus_digest(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[int, int]:
    """(content_hash, row_count) in ONE scan — the cache key for
    corpus-dependent calibrations. Order-independent (a SUM of per-row
    hashes commutes), content-sensitive (any id or vector change moves
    it). Not an adjudicated surface: this keys calibration caches, it
    never appears in query results, so Spark's native hash() is fine."""
    row = emb.select(
        F.sum(F.hash(F.col(id_col), F.col(vec_col)).cast("long")).alias("d"),
        F.count("*").alias("n"),
    ).head()
    return (int(row["d"] or 0), int(row["n"]))


def ivf_recall_curve(
    emb: DataFrame,
    n_list: int = 16,
    k: int = 10,
    budgets: list[int] | None = None,
    query_ids: tuple = (0,),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[int, float]:
    """Measure the (n_probe → recall@k) curve ON THIS CORPUS: one IVF
    index build, then for each budget the probed-lists top-k is compared
    against the exact top-k, averaged over ``query_ids``. This is the
    calibration input :func:`auto_n_probe` wants — and it is a DATASET
    PROPERTY, not a constant: the same knobs measure 0.70 at sf0.001
    where sf0.01 measures 0.90 (SCALING.md round-5 note), so any cached
    curve must be refreshed when the corpus changes
    (:func:`auto_n_probe_calibrated` automates exactly that).

    Data-independent invariants (pinned by test): recall is MONOTONE
    non-decreasing in n_probe (candidate lists nest, and an exact-scored
    true top-k hit can only be displaced by items that are themselves
    true top-k), and n_probe = n_list measures exactly 1.0 (exhaustive
    scan)."""
    if budgets is None:
        budgets = sorted({1, 2, 4, max(1, n_list // 2), n_list})
    indexed, cents = ivf_index(emb, n_list, id_col, vec_col, fixed_point=True)
    indexed = indexed.localCheckpoint(eager=True)  # one index serves every budget
    hits = {p: 0 for p in budgets}
    for qid in query_ids:
        qrow = emb.filter(F.col(id_col) == qid).head()
        if qrow is None:
            raise ValueError(f"query id {qid} not found in corpus")
        qvec = [float(x) for x in qrow[vec_col]]
        exact = {
            r["vec_id"]
            for r in topk_cosine(emb, qvec, k, id_col, vec_col).collect()
        }
        ranked = sorted(
            sorted(cents),
            key=lambda lid: (
                float(_py_dot_i64(cents[lid], cents[lid]))
                - 2.0 * _py_dot_i64(qvec, cents[lid]),
                lid,
            ),
        )
        for p in budgets:
            cands = indexed.filter(F.col("list_id").isin(ranked[:p]))
            got = {
                r["vec_id"]
                for r in topk_cosine(cands, qvec, k, id_col, vec_col).collect()
            }
            hits[p] += len(got & exact)
    return {p: hits[p] / (k * len(query_ids)) for p in budgets}


def auto_n_probe_calibrated(
    emb: DataFrame,
    cache: dict,
    n_list: int = 16,
    target_recall: float = 0.9,
    k: int = 10,
    budgets: list[int] | None = None,
    query_ids: tuple = (0,),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """:func:`auto_n_probe` with the calibration-freshness rule built
    in: the measured recall curve is keyed by :func:`corpus_digest`, and
    whenever the corpus content changes the curve is REMEASURED before
    the budget is picked — a stale calibration is the documented failure
    mode (recall numbers are dataset properties; the same knobs measured
    0.70 and 0.90 on two SFs of the same generator). ``cache`` is a
    plain caller-owned dict (persist it however you persist the index);
    on a hit no Spark job beyond the one digest scan runs. The key
    covers the CALIBRATION KNOBS too — a curve measured for one
    (n_list, k, budgets, query_ids) shape must not answer for another —
    and is written only AFTER the curve measures successfully, so a
    failed remeasure can never leave the previous corpus's curve keyed
    under the new corpus's digest."""
    dig = corpus_digest(emb, id_col, vec_col)
    params = (n_list, k, tuple(budgets) if budgets else None, tuple(query_ids))
    if cache.get("digest") != dig or cache.get("params") != params or "curve" not in cache:
        curve = ivf_recall_curve(emb, n_list, k, budgets, query_ids, id_col, vec_col)
        cache["curve"] = curve
        cache["digest"] = dig
        cache["params"] = params
    return auto_n_probe(n_list, target_recall, cache["curve"])


def ivfpq_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_list: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production ANN composition — coarse quantizer prunes
    to ``n_probe`` inverted lists (partition pruning when stored via
    :func:`write_ivf_partitioned`), then ADC over PQ codes ranks the
    survivors (m int lookups per vector instead of dim float multiplies).
    Returns (vec_id, adc_e8) ascending. The PQ codebook is trained on
    (seeded from) the FULL corpus, not the probed subset, so codes are
    probe-independent — exactly how a write-time-encoded store behaves.

    At 100 TB: scan cost = (n_probe/n_list) × (m bytes/vector); the two
    tiers compose because both are computed at write time."""
    seeds = _md5_seed_vectors(
        emb, max(n_list, n_codes), id_col, vec_col,
        needed=f"max(n_list={n_list}, n_codes={n_codes})",
    )
    pq_cents = {i: seeds[i] for i in range(n_codes)}
    indexed, ivf_cents = ivf_index(emb, n_list, id_col, vec_col, fixed_point=True)

    def _key(c: list[float]) -> float:
        return float(_py_dot_i64(c, c) - 2 * _py_dot_i64(query_vec, c))

    probe_ids = sorted(sorted(ivf_cents), key=lambda lid: (_key(ivf_cents[lid]), lid))[
        :n_probe
    ]
    cands = indexed.filter(F.col("list_id").isin(probe_ids)).drop("list_id")
    return pq_topk(cands, query_vec, k, m, n_codes, id_col, vec_col, centroids=pq_cents)


def ivfpq_rerank_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank_mult: int = 16,
    n_list: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full production ANN composition, all three tiers: IVF prunes
    the scan to ``n_probe`` lists (partition pruning on a
    :func:`write_ivf_partitioned` store), ADC over PQ codes ranks the
    survivors reading m ints per row, and the exact e8 cosine kernel
    re-scores only the ``rerank_mult * k`` shortlist. Returns the top
    ``k`` as (vec_id, score) with scores identical to
    :func:`topk_cosine`. Recall is the product of the IVF probe ceiling
    (calibrate with :func:`auto_n_probe`) and ADC shortlist containment
    (grow n_codes/rerank_mult) — the measured knob points are in
    SCALING.md. At 100 TB: scan cost = (n_probe/n_list) · m bytes/row;
    the exact pass is a broadcast-joined sliver independent of corpus
    size."""
    shortlist = ivfpq_topk(
        emb, query_vec, k=rerank_mult * k, n_list=n_list, n_probe=n_probe,
        m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col,
    ).select(F.col("vec_id").alias(id_col))
    cands = emb.join(F.broadcast(shortlist), id_col)
    return topk_cosine(cands, query_vec, k, id_col, vec_col)


def ivfpq_rerank_topk_many(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank_mult: int = 16,
    n_list: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
    max_queries: int = 10_000,
) -> DataFrame:
    """Batched full-stack ANN: N queries through IVF prune → PQ-ADC
    shortlist → exact re-rank, with ONE pass per tier instead of one
    per query. Completes the batching ladder (topk_cosine_many /
    ivf_topk_cosine_many batch the exact and IVF-flat tiers; this
    batches the production composition). Returns (query_id, vec_id,
    score), top-k per query, scores BIT-IDENTICAL to
    :func:`ivfpq_rerank_topk` run per query (pinned by test).

    How the single scan serves everyone:

    - the IVF index and PQ codes are query-INDEPENDENT (write-time
      artifacts), built once;
    - per query the ``n_probe`` nearest lists and the m×n_codes ADC
      table are computed driver-side (bounded by ``max_queries``); the
      probe table broadcasts with each query's FLATTENED ADC table as
      an array column, so the one scan of the encoded corpus scores a
      row for query q as Σ_s table_q[s·n_codes + code_s] — m integer
      lookups, pure JVM expressions;
    - per-query ADC shortlists (rerank_mult·k window) union into ONE
      exact re-rank join — Σ_q rerank_mult·k rows, independent of
      corpus size.

    At 100 TB: the corpus's code columns are read once for all queries,
    only lists SOME query probes are touched (partition pruning on a
    write_ivf_partitioned store via the probed-list union), and the
    shuffles carry candidate/shortlist rows only."""
    seeds = _md5_seed_vectors(
        emb, max(n_list, n_codes), id_col, vec_col,
        needed=f"max(n_list={n_list}, n_codes={n_codes})",
    )
    pq_cents = {i: seeds[i] for i in range(n_codes)}
    indexed, ivf_cents = ivf_index(emb, n_list, id_col, vec_col, fixed_point=True)
    encoded = pq_encode(indexed, pq_cents, m, id_col, vec_col)

    qrows = queries.select(q_id_col, q_vec_col).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"{len(qrows)} queries exceeds max_queries={max_queries}; "
            "batch the query table"
        )
    dim = len(seeds[0])
    d_sub = dim // m
    pairs = []
    for r in qrows:
        qv = [float(x) for x in r[q_vec_col]]
        probe_ids = sorted(
            sorted(ivf_cents),
            key=lambda lid: (
                float(_py_dot_i64(ivf_cents[lid], ivf_cents[lid]))
                - 2.0 * _py_dot_i64(qv, ivf_cents[lid]),
                lid,
            ),
        )[:n_probe]
        flat: list[int] = []
        for s in range(m):
            qs = qv[s * d_sub : (s + 1) * d_sub]
            q2 = _py_dot_i64(qs, qs)
            for c in range(n_codes):
                cs = pq_cents[c][s * d_sub : (s + 1) * d_sub]
                flat.append(q2 + _py_dot_i64(cs, cs) - 2 * _py_dot_i64(qs, cs))
        qn = _py_norm_i64(qv)
        pairs += [
            (int(r[q_id_col]), float(qn), qv, flat, int(lid)) for lid in probe_ids
        ]
    spark = emb.sparkSession
    probe_df = local_df(
        spark,
        pairs,
        f"{q_id_col} long, _qn double, _qv array<double>, _adc array<long>, list_id int",
    )
    adc_score = sum(
        (
            F.element_at(
                F.col("_adc"), F.lit(0) + s * n_codes + F.col("codes")[s] + 1
            )
            for s in range(m)
        ),
        F.lit(0).cast("long"),
    )
    scored = encoded.join(
        F.broadcast(probe_df.select(q_id_col, "list_id", "_adc")), "list_id"
    ).select(q_id_col, F.col(id_col).alias("vec_id"), adc_score.alias("adc_e8"))
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy(q_id_col).orderBy("adc_e8", "vec_id")
    )
    shortlist = (
        scored.withColumn("_rn", rn)
        .filter(F.col("_rn") <= rerank_mult * k)
        .select(q_id_col, "vec_id")
    )
    cands = emb.select(F.col(id_col).alias("vec_id"), vec_col).join(
        F.broadcast(shortlist), "vec_id"
    ).join(
        F.broadcast(
            probe_df.select(q_id_col, "_qn", "_qv").dropDuplicates([q_id_col])
        ),
        q_id_col,
    )
    exact = cands.select(
        q_id_col,
        "vec_id",
        F.round(
            (_dot_i64(F.col(vec_col), F.col("_qv")).cast("double") / SCALE)
            / (_norm_i64(F.col(vec_col)) * F.col("_qn")),
            6,
        ).alias("score"),
    )
    rn2 = F.row_number().over(
        Window.partitionBy(q_id_col).orderBy(F.desc("score"), "vec_id")
    )
    return (
        exact.withColumn("_rn", rn2)
        .filter(F.col("_rn") <= k)
        .select(q_id_col, "vec_id", "score")
    )


def write_ivf_partitioned(
    emb: DataFrame,
    path: str,
    n_list: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fixed_point: bool = True,
    kernel: str = "numpy",
) -> dict[int, list[float]]:
    """Materialize the IVF index the way a 100 TB deployment stores it:
    parquet PARTITIONED BY ``list_id``, one directory per inverted list.
    Returns the centroid table (persist it next to the data; it is the
    whole 'index' — n_list × dim floats).

    This is the operational half of the IVF pruning claim: a probe that
    filters ``list_id IN (...)`` against this layout is satisfied by
    PARTITION PRUNING — the scan touches n_probe/n_list of the files and
    the explain plan shows it (pinned by test). Assignment happens once
    at write time (map-side, shuffle-free), so query-time cost is just
    centroid distances (driver, n_list rows) + the pruned scan."""
    indexed, centroids = ivf_index(
        emb, n_list, id_col, vec_col, fixed_point=fixed_point, kernel=kernel
    )
    indexed.write.mode("overwrite").partitionBy("list_id").parquet(path)
    return centroids


def ivf_append_partitioned(
    batch: DataFrame,
    path: str,
    centroids: dict[int, list[float]],
    vec_col: str = "embedding",
    fixed_point: bool = True,
    kernel: str = "numpy",
) -> None:
    """Incremental IVF index MAINTENANCE: assign an arriving vector batch
    with the FROZEN centroid table (the index built by
    :func:`write_ivf_partitioned` — never re-trained, never re-read) and
    APPEND the rows into the store's ``list_id`` partition directories.

    This is how a 100 TB deployment absorbs new vectors between index
    rebuilds: assignment is map-side against the n_list × dim centroid
    closure (the same fixed-point kernel as write time, so an appended
    vector lands in exactly the list a full rebuild with these centroids
    would give it), the append touches only the partitions the batch
    hits, and existing data is never rewritten. Probes through
    :func:`probe_ivf_partitioned` see corpus + appended rows with the
    same partition pruning — adjudicated end to end by the
    sim_index_incremental entry.

    The batch keeps its FULL schema: write_ivf_partitioned stores every
    input column + list_id, so appending a projected subset would leave
    the store's file footers schema-inconsistent and silently drop
    payload columns from appended rows."""
    sel = batch
    if fixed_point and kernel == "numpy":
        indexed = _ivf_assign_numpy(sel, centroids, vec_col)
    else:
        # reuse the write-time HOF/double assignment paths via ivf_index's
        # candidate expressions — rebuilt here against the FROZEN table
        cand = []
        for lid in sorted(centroids):
            c = centroids[lid]
            if fixed_point:
                # pure int64 key, mirroring ivf_index's fixed-point HOF
                # path exactly — a double key here could diverge from a
                # rebuild for |e8 values| > 2^53 (round-8 ADVICE)
                key = F.lit(_py_dot_i64(c, c)) - 2 * _dot_i64(
                    F.col(vec_col), F.lit(c).cast("array<double>")
                )
            else:
                c2 = sum(x * x for x in c)
                dot = F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.lit(c).cast("array<double>"),
                        lambda x, s: x.cast("double") * s,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                key = F.lit(c2) - 2 * dot
            cand.append(F.struct(key.alias("key"), F.lit(lid).alias("lid")))
        indexed = sel.withColumn("list_id", F.array_min(F.array(*cand))["lid"])
    indexed.write.mode("append").partitionBy("list_id").parquet(path)


def probe_ivf_partitioned(
    spark,
    path: str,
    centroids: dict[int, list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fixed_point: bool = True,
) -> DataFrame:
    """Top-k probe against a :func:`write_ivf_partitioned` store: pick the
    ``n_probe`` nearest lists driver-side (n_list rows of arithmetic),
    scan ONLY those partitions (partition pruning — `list_id IN (...)` is
    a directory filter, no data read outside the probed lists), exact
    re-rank inside."""

    def _key(c: list[float]) -> float:
        if fixed_point:
            return float(_py_dot_i64(c, c) - 2 * _py_dot_i64(query_vec, c))
        return sum(x * x for x in c) - 2 * sum(a * b for a, b in zip(query_vec, c))

    probe_ids = sorted(sorted(centroids), key=lambda lid: (_key(centroids[lid]), lid))[
        :n_probe
    ]
    stored = spark.read.parquet(path)
    cands = stored.filter(F.col("list_id").isin([int(i) for i in probe_ids]))
    return topk_cosine(cands, query_vec, k, id_col, vec_col)


def write_ivfpq_partitioned(
    emb: DataFrame,
    path: str,
    n_list: int = 16,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[dict[int, list[float]], dict[int, list[float]]]:
    """Materialize the FULL production ANN store — IVF-partitioned
    parquet whose rows carry write-time PQ ``codes`` — and return the
    two frozen model tables ``(ivf_cents, pq_cents)`` that ARE the
    index (n_list × dim + n_codes × dim floats; persist them next to
    the data). Seeding matches :func:`ivfpq_topk` exactly: one md5-min
    draw of max(n_list, n_codes) rows, the first n_list as coarse
    centroids, the first n_codes as the shared PQ codebook — so the
    stored artifact is the same index the adjudicated batch entries
    compute inline.

    Rows keep their full schema INCLUDING the raw vector: the exact
    re-rank tier reads vectors for the shortlist only, and at 100 TB a
    deployment that externalizes vectors to a separate row store swaps
    that one join — codes (m small ints) remain the scan payload."""
    seeds = _md5_seed_vectors(
        emb, max(n_list, n_codes), id_col, vec_col,
        needed=f"max(n_list={n_list}, n_codes={n_codes})",
    )
    ivf_cents = {i: seeds[i] for i in range(n_list)}
    pq_cents = {i: seeds[i] for i in range(n_codes)}
    indexed = _ivf_assign_numpy(emb, ivf_cents, vec_col)
    encoded = pq_encode(indexed, pq_cents, m, id_col, vec_col)
    encoded.write.mode("overwrite").partitionBy("list_id").parquet(path)
    return ivf_cents, pq_cents


def ivfpq_append_partitioned(
    batch: DataFrame,
    path: str,
    ivf_cents: dict[int, list[float]],
    pq_cents: dict[int, list[float]],
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance of a :func:`write_ivfpq_partitioned`
    store: coarse-assign an arriving batch with the FROZEN centroid
    table AND PQ-encode it with the FROZEN codebook, then append into
    the hit ``list_id`` partition directories. This closes the gap
    :func:`ivf_append_partitioned` left at the flat tier — without
    write-time encoding, appended rows would carry no ``codes`` column
    and the ADC scan would degrade to flat reads (or fail outright) on
    the appended fraction of an append-heavy store.

    Both models are closures computed at build time, so assignment and
    encoding are map-side (one Arrow pass each, no shuffle, no driver
    state beyond (n_list + n_codes) × dim floats) and an appended
    vector lands in exactly the partition, with exactly the codes, a
    full rebuild under the same seeds would give it (append == rebuild
    pinned by test)."""
    indexed = _ivf_assign_numpy(batch, ivf_cents, vec_col)
    encoded = pq_encode(indexed, pq_cents, m, id_col, vec_col)
    encoded.write.mode("append").partitionBy("list_id").parquet(path)


def probe_ivfpq_partitioned(
    spark,
    path: str,
    ivf_cents: dict[int, list[float]],
    pq_cents: dict[int, list[float]],
    query_vec: list[float],
    k: int = 10,
    rerank_mult: int = 16,
    n_probe: int = 4,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-three-tier probe against a :func:`write_ivfpq_partitioned`
    store: the ``n_probe`` nearest lists are picked driver-side
    (partition pruning — ``list_id IN (...)`` is a directory filter),
    the ADC table over the frozen codebook ranks the pruned scan's
    WRITE-TIME codes (m integer lookups per row, vectors untouched),
    and the exact e8 cosine kernel re-scores only the
    ``rerank_mult · k`` shortlist. Scores are identical to
    :func:`topk_cosine` on the same candidates — precision 1.0, recall
    = probe ceiling × shortlist containment, the same calibration as
    :func:`ivfpq_rerank_topk`."""

    def _key(c: list[float]) -> int:
        return _py_dot_i64(c, c) - 2 * _py_dot_i64(query_vec, c)

    probe_ids = sorted(
        sorted(ivf_cents), key=lambda lid: (_key(ivf_cents[lid]), lid)
    )[:n_probe]
    dim = len(query_vec)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    n_codes = len(pq_cents)
    table: list[list[int]] = []
    for s in range(m):
        qs = query_vec[s * d_sub : (s + 1) * d_sub]
        q2 = _py_dot_i64(qs, qs)
        row = []
        for c in range(n_codes):
            cs = pq_cents[c][s * d_sub : (s + 1) * d_sub]
            row.append(q2 + _py_dot_i64(cs, cs) - 2 * _py_dot_i64(qs, cs))
        table.append(row)
    stored = spark.read.parquet(path)
    pruned = stored.filter(F.col("list_id").isin([int(i) for i in probe_ids]))
    adc = sum(
        (
            F.element_at(F.lit(table[s]).cast("array<long>"), F.col("codes")[s] + 1)
            for s in range(m)
        ),
        F.lit(0).cast("long"),
    )
    shortlist = (
        pruned.select(id_col, vec_col, adc.alias("_adc"))
        .orderBy("_adc", id_col)
        .limit(rerank_mult * k)
        .drop("_adc")
    )
    return topk_cosine(shortlist, query_vec, k, id_col, vec_col)


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | str | None = "auto",
    *,
    all_pairs: bool = False,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold.

    .. note:: BREAKING CHANGE (round 5): the default moved from exact
       all-pairs (``n_planes=None``) to approximate LSH
       (``n_planes="auto"``). A caller that previously omitted
       ``n_planes`` now gets the self-scaling bucketed path, which can
       MISS pairs (recall < 1 at a given plane count; precision stays
       1.0 — every emitted pair carries its exact cosine). Callers that
       need the exhaustive kernel must now opt in with
       ``all_pairs=True``.

    ``n_planes="auto"`` (the default): derive the plane count from the
    vector count via :func:`auto_n_planes` (one count job) — the
    production default, since a FIXED plane count is a measured quadratic
    cliff as the corpus grows (SCALING.md round-4 curve).

    ``all_pairs=True``: the O(n²) verification kernel and recall
    baseline. Audit use only, and therefore an EXPLICIT opt-in — a
    caller who omits every knob gets the self-scaling LSH path, never a
    silent quadratic.

    ``n_planes=p`` (the scale path): hyperplane-LSH bucketing. Every
    vector gets a p-bit bucket from the deterministic md5-parity
    hyperplanes (``hyperplane_signs`` — engine-portable, so the DuckDB
    oracle reproduces the buckets bit-for-bit), candidates are pairs
    whose buckets differ in AT MOST ONE bit (multi-probe: each vector
    probes its own bucket plus the p Hamming-1 neighbors, an equi-join on
    the probed bucket — a shuffled hash join, never a nested loop), and
    this exact fixed-point kernel runs inside candidates only. Candidate
    count is Σ |bucket|·|neighborhood|, not n²; recall at dedup-grade
    thresholds is measured against the all-pairs baseline in
    tests/test_dedup_similarity.py. Every emitted pair carries the exact
    cosine (precision 1.0 — only recall is approximate).

    Norms are computed ONCE per vector before the pair join (N folds),
    not per pair (would be 2·N² folds) — per-pair work is the dot product
    only."""
    if all_pairs:
        n_planes = None
    elif n_planes is None:
        raise ValueError(
            "n_planes=None is the O(n^2) all-pairs audit path; opt in "
            "explicitly with all_pairs=True (or pass an int / 'auto')"
        )
    if n_planes == "auto":
        n_planes = auto_n_planes(emb.count())
    # pinned: both sides of the self-join reuse one materialization, so
    # norms really are computed once per vector (N folds, not 2N)
    base_cols = [
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _norm_i64(F.col(vec_col)).alias("_n"),
    ]
    if n_planes is None:
        # all-pairs: broadcast nested-loop (no equi key); its parallelism
        # equals the streamed side's partition count, and a small parquet
        # scan is ONE partition — repartition so the quadratic work
        # spreads across the cluster.
        with_norm = spread_scan(emb).select(*base_cols).localCheckpoint(eager=False)
        a = with_norm.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("va"), F.col("_n").alias("na")
        )
        b = with_norm.select(
            F.col("_id").alias("id_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb")
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        head = emb.select(vec_col).head()
        if head is None:  # empty input: no pairs, keep the output schema
            return (
                emb.select(
                    F.col(id_col).alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.lit(0.0).alias("cosine"),
                ).limit(0)
            )
        dim = len(head[0])
        with_norm = (
            spread_scan(emb)
            .select(*base_cols, hyperplane_signs(F.col(vec_col), dim, n_planes).alias("_bkt"))
            .localCheckpoint(eager=False)
        )
        # probe list: own bucket + every Hamming-1 neighbor. A candidate
        # pair matches EXACTLY one probe (the XOR of its two buckets), so
        # the join emits each pair once — no distinct pass needed.
        probes = F.array(
            F.col("_bkt"), *[F.col("_bkt").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
        )
        a = with_norm.select(
            F.col("_id").alias("id_a"),
            F.col("_v").alias("va"),
            F.col("_n").alias("na"),
            F.explode(probes).alias("_probe"),
        )
        b = with_norm.select(
            F.col("_id").alias("id_b"),
            F.col("_v").alias("vb"),
            F.col("_n").alias("nb"),
            F.col("_bkt").alias("_probe"),
        )
        pairs = a.join(b, "_probe").filter(F.col("id_a") < F.col("id_b"))
    # Two-phase: a raw double dot (fused multiply-adds, no per-element
    # rounding allocation) prefilters with a safety margin that dominates
    # the fixed-point quantization error (<= dim * 0.5e-8 + float error);
    # only near/above-threshold survivors pay for the exact fixed-point
    # fold. Output is identical — every emitted row carries the exact
    # cosine, and no qualifying pair can fall below the margin.
    raw_dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    margin = 1e-4
    survivors = pairs.filter(raw_dot / (F.col("na") * F.col("nb")) >= threshold - margin)
    return (
        survivors.select(
            "id_a",
            "id_b",
            F.round(
                (_dot_i64(F.col("va"), F.col("vb")).cast("double") / SCALE)
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def pair_cosine_pandas(
    pairs: DataFrame,
    emb: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cosine",
    max_vectors: int = 1 << 22,
    strict: bool = False,
) -> DataFrame:
    """Cosine for an explicit candidate-pair stream, vectorized: the
    vector table rides as a broadcast numpy matrix and each Arrow batch
    of narrow (id_a, id_b) pairs does gathered row-wise products — the
    same fixed-point quantization as ``_dot_i64`` (round half away from
    zero at 1e8, scores rounded to 6dp), so results are bit-identical
    to the built-in HOF fold. Use this kernel when the PAIR COUNT is
    large: the HOF fold is interpreted per row (higher-order functions
    sit outside whole-stage codegen), ~30x slower at 500k+ pairs, while
    the numpy path is one matmul-shaped pass per batch and the Arrow
    transfer carries only the narrow pair rows, never vectors.

    Scale contract: the BROADCAST tier needs the vector table to fit
    the driver (guarded by ``max_vectors``); past the bound the call
    AUTO-FALLS-BACK to :func:`pair_cosine_join` — the fully distributed
    tier (vectors ride two equi-joins, the kernel sees only its own
    Arrow batch, nothing is collected) — with results pinned
    BIT-IDENTICAL across the tier boundary by test (the kmeans
    kernel-ladder convention). Tier choice: the broadcast tier shuffles
    NARROW (id, id) pair rows where the join tier carries two dense
    vectors per pair, but it pays count + collect + broadcast jobs
    before the first pair scores — measured SLOWER end-to-end on the
    SemDeDup shape at every local sf (SCALING.md round-7 table), so the
    SemDeDup family calls :func:`pair_cosine_join` directly and this
    kernel remains for pair-dense shapes (pair multiset >> vector
    table) and as the parity reference.

    Caller contract — EDGE BEHAVIOR DIVERGES WITH TIER: every pair id
    must exist in ``emb``. Below ``max_vectors`` a missing id fails
    LOUDLY at the broadcast gather; past the bound the join tier's
    inner joins silently DROP the orphaned pair — same call, different
    failure mode depending on data volume. Pass ``strict=True`` to
    pin the loud contract at every size (forwarded to
    :func:`pair_cosine_join`, which then outer-joins + asserts; a
    no-op on the broadcast tier, already loud)."""
    import numpy as np

    n = emb.count()
    if n > max_vectors:
        return pair_cosine_join(
            pairs, emb, id_a=id_a, id_b=id_b, id_col=id_col,
            vec_col=vec_col, out_col=out_col, strict=strict,
        )
    rows = emb.select(id_col, vec_col).collect()
    idx = {int(r[0]): j for j, r in enumerate(rows)}
    mat = np.array([list(map(float, r[1])) for r in rows], dtype=np.float64)
    bc = pairs.sparkSession.sparkContext.broadcast((idx, mat))

    def score(batches):
        import pandas as pd  # noqa: F401  (arrow batch type)

        lookup, m = bc.value
        for pdf in batches:
            ia = pdf[id_a].map(lookup).to_numpy()
            ib = pdf[id_b].map(lookup).to_numpy()
            A, B = m[ia], m[ib]
            dots = _round_half_away(A * B * SCALE).sum(axis=1)
            na = np.sqrt(_round_half_away(A * A * SCALE).sum(axis=1) / SCALE)
            nb = np.sqrt(_round_half_away(B * B * SCALE).sum(axis=1) / SCALE)
            raw = (dots / SCALE) / (na * nb)
            out = pdf.copy()
            out[out_col] = _round_half_away(raw * 1e6) / 1e6  # 6dp, not banker's
            yield out

    from pyspark.sql import types as T

    schema = T.StructType(list(pairs.schema.fields) + [T.StructField(out_col, T.DoubleType())])
    return pairs.mapInPandas(score, schema)

def pair_cosine_join(
    pairs: DataFrame,
    emb: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cosine",
    strict: bool = False,
) -> DataFrame:
    """The fully DISTRIBUTED tier of the pair-cosine kernel ladder:
    vectors reach each pair row through two plain equi-joins (pairs ⋈
    emb on ``id_a``, then on ``id_b``) and the scoring kernel sees only
    its own Arrow batch — nothing is collected or broadcast, so the
    tier has NO corpus-size ceiling (:func:`pair_cosine_pandas`
    auto-selects it past ``max_vectors``; this is the SemDeDup scoring
    shape at 100 TB, where the in-cluster candidate pairs are the only
    rows that ever carry a vector). Scores are BIT-IDENTICAL to the
    broadcast tier (pinned by test): the same float64 gather, the same
    ``_round_half_away`` e8 fixed-point products, the same 6dp rounding
    — only WHERE the vectors come from differs.

    Scale shape: the shuffles are the two vector equi-joins — each
    carries (pair count) × dim values, the unavoidable payload of any
    distributed exact scorer; Catalyst picks broadcast-hash only when
    a side is genuinely small (no hint is forced here). Works on
    STREAMING pair inputs too (stream-static equi-joins + mapInPandas),
    which is how the streaming SemDeDup twin stays unbounded-safe.

    Caller contract (same as the broadcast kernel's, different edge
    behavior): every pair id must exist in ``emb`` — here a missing id
    silently DROPS its pair at the inner join, where the broadcast
    kernel's gather would fail on the absent key. ``strict=True`` makes
    THIS tier loud too: the joins go outer and an engine-side
    ``assert_true`` fails the job naming the first orphaned pair — no
    extra action, one null-check per row. The SemDeDup call sites
    satisfy the contract by construction (pairs come from assignments
    over the same table), so they keep the cheap inner joins."""
    import numpy as np

    pair_cols = [f.name for f in pairs.schema.fields]
    va, vb = "_pcj_va", "_pcj_vb"
    ea = emb.select(
        F.col(id_col).cast("long").alias(id_a), F.col(vec_col).alias(va)
    )
    eb = emb.select(
        F.col(id_col).cast("long").alias(id_b), F.col(vec_col).alias(vb)
    )
    if strict:
        # the assert rides the FILTER predicate (coalesce(assert, true))
        # so Catalyst cannot prune it as an unused projection; assert_true
        # yields NULL on pass, so the coalesce keeps every surviving row
        msg = F.concat(
            F.lit("pair_cosine_join(strict): pair ("),
            F.col(id_a).cast("string"),
            F.lit(", "),
            F.col(id_b).cast("string"),
            F.lit(") references a vec_id missing from emb"),
        )
        ok = F.col(va).isNotNull() & F.col(vb).isNotNull()
        joined = (
            pairs.join(ea, id_a, "left")
            .join(eb, id_b, "left")
            .filter(F.coalesce(F.assert_true(ok, msg).cast("boolean"), F.lit(True)))
        )
    else:
        joined = pairs.join(ea, id_a).join(eb, id_b)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.vstack(pdf[va].map(lambda v: np.asarray(v, dtype=np.float64)))
            B = np.vstack(pdf[vb].map(lambda v: np.asarray(v, dtype=np.float64)))
            dots = _round_half_away(A * B * SCALE).sum(axis=1)
            na = np.sqrt(_round_half_away(A * A * SCALE).sum(axis=1) / SCALE)
            nb = np.sqrt(_round_half_away(B * B * SCALE).sum(axis=1) / SCALE)
            raw = (dots / SCALE) / (na * nb)
            out = pdf[pair_cols].copy()
            out[out_col] = _round_half_away(raw * 1e6) / 1e6  # 6dp, not banker's
            yield out

    from pyspark.sql import types as T

    schema = T.StructType(list(pairs.schema.fields) + [T.StructField(out_col, T.DoubleType())])
    return joined.mapInPandas(score, schema)
