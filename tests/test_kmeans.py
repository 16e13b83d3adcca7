"""K-Means vs the independent Python oracle (SURVEY.md §5.2 item 3):
same seed => identical assignments, centroids (10dp), SSE per iteration,
iteration count, and convergence flag; empty-cluster shrink semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skripsi_mapreduce_spark.operators.kmeans import init_centroid_ids, kmeans
from skripsi_mapreduce_spark.operators.tfidf import tfidf_long

from .oracles import kmeans_oracle, tfidf_oracle

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


@pytest.fixture(scope="module")
def corpus():
    """3 obvious clusters (animals / code / food) + noise, ids 1..N."""
    texts = {
        1: "cat dog cat hamster pet fur",
        2: "dog cat kennel fur pet paw",
        3: "cat paw fur pet dog whisker",
        4: "python java code compiler bug",
        5: "code bug python debugger java stack",
        6: "java stack code compiler python",
        7: "pizza pasta cheese tomato basil",
        8: "cheese pizza oven tomato crust",
        9: "pasta tomato basil cheese olive",
        10: "dog pizza python",
    }
    return texts


@pytest.fixture(scope="module")
def features(spark, corpus):
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    return tfidf_long(df, stopwords=STOPWORDS)


def test_init_is_seeded_and_in_range(corpus):
    ids = init_centroid_ids(len(corpus), 3, seed=42)
    assert ids == init_centroid_ids(len(corpus), 3, seed=42)
    assert all(1 <= d <= len(corpus) for d in ids)
    assert sorted(ids.values()) == [0, 1, 2]


def test_kmeans_matches_oracle(spark, corpus, features):
    res = kmeans(spark, features, k=3, max_iter=10, seed=42)
    feats_py = {}
    expect_w = tfidf_oracle(corpus, stopwords=STOPWORDS)
    for (d, w), v in expect_w.items():
        feats_py.setdefault(d, {})[w] = v
    a_exp, c_exp, sse_exp, it_exp, conv_exp = kmeans_oracle(feats_py, k=3, max_iter=10, seed=42)

    got_assign = {r["doc_id"]: r["cluster"] for r in res.assignments.collect()}
    assert got_assign == a_exp
    assert res.iterations == it_exp
    assert res.converged == conv_exp
    assert set(res.centroids) == set(c_exp)
    for c in c_exp:
        assert set(res.centroids[c]) == set(c_exp[c])
        for w in c_exp[c]:
            assert res.centroids[c][w] == pytest.approx(c_exp[c][w], abs=2e-10), (c, w)
    assert set(res.sse) == set(sse_exp)
    for c in sse_exp:
        assert res.sse[c] == pytest.approx(sse_exp[c], rel=1e-9)


def test_kmeans_parity_iteration_cap(spark, features):
    """max_iter=m reproduces the reference's at-most-(m-1) loop (§8 Q4)."""
    res = kmeans(spark, features, k=3, max_iter=2, seed=42)
    assert res.iterations <= 1
    res_honest = kmeans(spark, features, k=3, max_iter=2, seed=42,
                        parity_max_iter_off_by_one=False)
    assert res_honest.iterations <= 2


def test_kmeans_empty_cluster_shrinks(spark):
    """Two far groups, k=3 with a seed that lands two centroids in one
    group: a cluster may end up empty and must vanish (k shrinks), not
    crash (§2.3)."""
    rows = [(i, "alpha beta gamma") for i in range(1, 5)] + [
        (i, "delta epsilon zeta") for i in range(5, 9)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feats = tfidf_long(df)
    res = kmeans(spark, feats, k=3, max_iter=6, seed=1)
    assert len(res.centroids) <= 3
    clusters_used = {r["cluster"] for r in res.assignments.collect()}
    assert set(res.centroids) >= clusters_used


def test_kmeans_centroid_bound_enforced(spark, corpus, features):
    """The driver-side centroid materialization refuses to collect more
    than max_centroid_entries rows and names the distributed escape
    hatches in the error. The bound counts centroid rows only, not the
    size/SSE rows the constant-centroid update collects alongside them:
    exactly max_centroid_entries rows pass, one more raises."""
    with pytest.raises(RuntimeError, match="kmeans_ml|kmeans_fixedpoint"):
        kmeans(spark, features, k=3, max_iter=3, seed=42, max_centroid_entries=2)
    n = sum(len(v) for v in kmeans(spark, features, k=3, max_iter=2, seed=42).centroids.values())
    kmeans(spark, features, k=3, max_iter=2, seed=42, max_centroid_entries=n)
    with pytest.raises(RuntimeError, match="max_centroid_entries"):
        kmeans(spark, features, k=3, max_iter=2, seed=42, max_centroid_entries=n - 1)


AWKWARD_WORDS = [
    'say "hi"', "back\\slash", "café", "naïve", "日本語", "😀", "bell\x07", "tab\there",
    '{"cluster": 1}', "[0, 1.5]", "null", "",
]


def _awkward_features(spark):
    """Three well-separated groups whose words need JSON escaping; weights
    include a subnormal-adjacent 1e-300 and the inexact 0.1+0.2."""
    groups = [AWKWARD_WORDS[0:6] + ["a1", "a2"], AWKWARD_WORDS[6:12] + ["b1", "b2"],
              ["c1", "c2", "c3", "c4", "c5", "c6"]]
    weights = [1e-300, 0.1 + 0.2, 1.0, 2.5, 1 / 3, 0.7]
    rows = []
    for d in range(1, 31):
        g = groups[d % 3]
        for j in range(4):
            w = g[(d + j) % len(g)]
            rows.append((d, w, weights[(d * 7 + j) % len(weights)] * (1 + 3 * (d % 3))))
    return spark.createDataFrame(rows, "doc_id long, word string, weight double")


def _assign_literal_columns(docs_vec, centroids):
    """``kmeans._assign_literal`` in the Column-API form its SQL statement
    replaced: the reference for the bit-equality check."""
    import json

    from skripsi_mapreduce_spark.operators import kmeans as km

    consts = json.dumps(
        [
            {
                "cluster": c,
                "c2": float(sum(v * v for v in centroids[c].values())),
                "cmap": {w: float(v) for w, v in centroids[c].items() if w is not None},
            }
            for c in sorted(centroids)
        ]
    )

    def candidate(cent):
        dot = F.aggregate(
            F.col("entries"),
            F.lit(0.0),
            lambda acc, e: acc
            + e["weight"] * F.coalesce(F.element_at(cent["cmap"], e["word"]), F.lit(0.0)),
        )
        dist2 = F.greatest(F.col("x2") + cent["c2"] - 2 * dot, F.lit(0.0))
        return F.struct(dist2.alias("dist2"), cent["cluster"].alias("cluster"))

    best = F.array_min(F.transform(F.from_json(F.lit(consts), km._CENTROIDS_TYPE), candidate))
    return docs_vec.select("doc_id", "entries", best.alias("best")).select(
        "doc_id", "entries", "best.cluster", "best.dist2"
    )


def _update_columns(assigned, word_type, n_clusters, max_entries):
    """``kmeans._update`` in the Column-API form its SQL statement
    replaced."""
    no_word = F.lit(None).cast(word_type)
    sentinels = F.array(
        F.struct(no_word.alias("word"), F.lit(1.0).alias("weight")),
        F.struct(no_word.alias("word"), F.col("dist2").alias("weight")),
    )
    c, pos = F.col("cluster"), F.col("pos")
    rows = (
        assigned.select("cluster", F.posexplode(F.concat(sentinels, "entries")).alias("pos", "e"))
        .groupBy(
            F.when(pos > 1, c).otherwise(-1 - 2 * c - pos).alias("cluster"),
            F.col("e.word").alias("word"),
        )
        .agg(F.sum("e.weight").alias("wsum"))
        .limit(max_entries + 1 + 2 * n_clusters)
        .collect()
    )
    sizes, sse, centroid_rows = {}, {}, []
    for r in rows:
        key = r["cluster"]
        if key >= 0:
            centroid_rows.append(r)
        elif key % 2:
            sizes[(-1 - key) // 2] = int(r["wsum"])
        else:
            sse[(-2 - key) // 2] = r["wsum"]
    return sizes, sse, centroid_rows


def _result_bits(res):
    """Everything a kmeans() result holds, floats as their exact bits."""
    return (
        sorted((r["doc_id"], r["cluster"], r["dist2"].hex()) for r in res.assignments.collect()),
        {c: {w: v.hex() for w, v in vec.items()} for c, vec in res.centroids.items()},
        {c: v.hex() for c, v in res.sse.items()},
        [{c: v.hex() for c, v in h.items()} for h in res.history],
        res.iterations,
        res.converged,
    )


def test_kmeans_literal_path_matches_join_path(spark, monkeypatch):
    """The constant-centroid assignment ships words and weights through a
    JSON constant; the broadcast-join path ships them as a table. Both must
    agree on assignments, centroids and iteration count exactly. dist2 and
    SSE may differ in the last bits (the join path sums the dot product in
    shuffle order), hence rel=1e-9 for those."""
    from skripsi_mapreduce_spark.operators import kmeans as km

    feats = _awkward_features(spark)
    literal_cap = km.CENTROID_LITERAL_CAP
    lit = kmeans(spark, feats, k=3, max_iter=6, seed=7)
    monkeypatch.setattr(km, "CENTROID_LITERAL_CAP", 0)  # every iteration joins
    join = kmeans(spark, feats, k=3, max_iter=6, seed=7)

    got_l = {r["doc_id"]: (r["cluster"], r["dist2"]) for r in lit.assignments.collect()}
    got_j = {r["doc_id"]: (r["cluster"], r["dist2"]) for r in join.assignments.collect()}
    assert {d: c for d, (c, _) in got_l.items()} == {d: c for d, (c, _) in got_j.items()}
    assert len(got_l) == 30
    for d, (_, dist2) in got_l.items():
        assert dist2 == pytest.approx(got_j[d][1], rel=1e-9, abs=1e-300)
    assert lit.centroids == join.centroids
    assert set().union(*lit.centroids.values()) >= set(AWKWARD_WORDS)
    assert lit.iterations == join.iterations >= 2
    assert len(lit.history) == len(join.history)
    for hl, hj in zip(lit.history, join.history):
        assert hl.keys() == hj.keys()
        for c in hl:
            assert hl[c] == pytest.approx(hj[c], rel=1e-9)

    # Each iteration step is one SQL statement; on both kernels the result
    # is bit-identical to the Column-API form of the same steps: centroids,
    # SSE, history, iterations and every assignment's dist2.
    for cap, res in ((0, join), (literal_cap, lit)):
        monkeypatch.setattr(km, "CENTROID_LITERAL_CAP", cap)
        with monkeypatch.context() as m:
            m.setattr(km, "_assign_literal", _assign_literal_columns)
            m.setattr(km, "_update", _update_columns)
            ref = kmeans(spark, feats, k=3, max_iter=6, seed=7)
        assert _result_bits(res) == _result_bits(ref)


def test_kmeans_non_string_words_match_string_words(spark, features, monkeypatch):
    """Centroid maps travel as JSON, whose keys are strings, so integer
    words take the join path; they must cluster exactly like the same
    corpus with string words, whether the string words take the
    constant-centroid path or (cap 0) the join path too. The shared
    update must keep integer words integers, and the join kernel's
    centroid table must take the integer word type: a string table
    joins through a cast on ``word``."""
    import re

    from skripsi_mapreduce_spark.operators import kmeans as km

    words = sorted(r["word"] for r in features.select("word").distinct().collect())
    ids = spark.createDataFrame(list(enumerate(words)), "word_id int, word string")
    int_feats = features.join(ids, "word").select("doc_id", F.col("word_id").alias("word"), "weight")
    join_plans = []
    assign = km._assign

    def spy(*args):
        out = assign(*args)
        join_plans.append(out._jdf.queryExecution().optimizedPlan().toString())
        return out

    monkeypatch.setattr(km, "_assign", spy)
    for cap in (km.CENTROID_LITERAL_CAP, 0):
        monkeypatch.setattr(km, "CENTROID_LITERAL_CAP", cap)
        a = kmeans(spark, features, k=3, max_iter=10, seed=42)
        join_plans.clear()
        b = kmeans(spark, int_feats, k=3, max_iter=10, seed=42)
        assert join_plans and not any(re.search(r"cast\(word#", p) for p in join_plans)
        assert {r["doc_id"]: r["cluster"] for r in a.assignments.collect()} == {
            r["doc_id"]: r["cluster"] for r in b.assignments.collect()
        }
        assert a.centroids == {
            c: {words[w]: v for w, v in vec.items()} for c, vec in b.centroids.items()
        }
        assert a.iterations == b.iterations


@pytest.mark.parametrize("literal_cap", [None, 0])
def test_kmeans_single_pass_assigns_to_seeds(spark, corpus, features, monkeypatch, literal_cap):
    """max_iter=1: the parity loop never runs, so the centroids are the
    seed documents' vectors and every document sits at its nearest seed,
    on both assignment kernels (cap 0 forces the join kernel)."""
    from skripsi_mapreduce_spark.operators import kmeans as km

    if literal_cap is not None:
        monkeypatch.setattr(km, "CENTROID_LITERAL_CAP", literal_cap)
    res = kmeans(spark, features, k=3, max_iter=1, seed=42)
    vecs: dict[int, dict[str, float]] = {}
    for r in features.collect():
        vecs.setdefault(r["doc_id"], {})[r["word"]] = r["weight"]
    seeds = init_centroid_ids(len(corpus), 3, seed=42)
    assert res.iterations == 0 and not res.converged and res.history == []
    assert res.centroids == {c: vecs[d] for d, c in seeds.items()}

    def dist2(x, c):
        return sum((x.get(w, 0.0) - c.get(w, 0.0)) ** 2 for w in set(x) | set(c))

    got = {r["doc_id"]: (r["cluster"], r["dist2"]) for r in res.assignments.collect()}
    assert set(got) == set(vecs)
    sse: dict[int, float] = {}
    for d, (c, d2) in got.items():
        dists = {k: dist2(vecs[d], cv) for k, cv in res.centroids.items()}
        assert dists[c] <= min(dists.values()) + 1e-9, (d, c, dists)
        assert d2 == pytest.approx(dists[c], rel=1e-9, abs=1e-12)
        sse[c] = sse.get(c, 0.0) + d2
    assert res.sse.keys() == sse.keys()
    for c in sse:
        assert res.sse[c] == pytest.approx(sse[c], rel=1e-9)


def test_kmeans_literal_iteration_runs_two_jobs(spark, features):
    """Each constant-centroid iteration runs exactly two Spark jobs (the
    update's shuffle map stage and its bounded collect): the job-count
    difference between runs of different length is 2 per iteration."""
    sc = spark.sparkContext

    def jobs_and_iterations(max_iter, group):
        sc.setJobGroup(group, "kmeans job-count gate")
        try:
            res = kmeans(spark, features, k=3, max_iter=max_iter, seed=42)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), res.iterations

    jobs_1, it_1 = jobs_and_iterations(2, "kmeans-gate-short")
    jobs_n, it_n = jobs_and_iterations(10, "kmeans-gate-long")
    assert it_1 == 1 and it_n > it_1
    assert jobs_n - jobs_1 == 2 * (it_n - it_1)


def test_kmeans_literal_assign_plan_size_independent_of_k(spark):
    """The centroids are one folded constant: the assign expression holds
    one element_at whatever k is, and no from_json survives optimization
    (a per-row parse would re-read the JSON for every document)."""
    from skripsi_mapreduce_spark.operators.kmeans import _assign_literal

    docs_vec = spark.createDataFrame(
        [(1, [("w0_1", 1.0), ("x", 2.0)], 5.0)],
        "doc_id long, entries array<struct<word:string,weight:double>>, x2 double",
    )
    counts = []
    for k in (3, 8):
        cents = {c: {f"w{c}_{i}": 0.5 + i for i in range(20)} for c in range(k)}
        qe = _assign_literal(docs_vec, cents)._jdf.queryExecution()
        counts.append(qe.analyzed().toString().count("element_at"))
        assert "from_json" not in qe.optimizedPlan().toString()
    assert counts == [1, 1]


def test_kmeans_fixedpoint_signed_features(spark, monkeypatch):
    """Dense signed features (embedding-style long form): negative
    centroid weights must survive the centroid zero-drop (!= 0, not > 0)
    and the rounded-mean DIV must truncate toward zero exactly like the
    DuckDB oracle's // — pinned here against a Python twin of the same
    integer rules, summary and assignments, on every pass-loop path:
    the pivot kernel on collected centroids, the pivot kernel past
    ``_CENT_COLLECT_MAX`` (checkpointed centroids and the kernel's own
    ||c||^2 collect), the lineage-cut loop past 4 passes, and the join
    kernel (pivot cutoff 0)."""
    import hashlib

    from skripsi_mapreduce_spark.operators import kmeans as km

    rows = []
    vecs = {
        1: [-10000, 5000, -2],
        2: [-9000, 4000, 1],
        3: [9500, -4500, 3],
        4: [10000, -5000, -1],
        5: [-9800, 4900, 0],
        6: [9900, -4900, 2],
    }
    for did, v in vecs.items():
        for d, x in enumerate(v):
            rows.append((did, d, x))
    w = spark.createDataFrame(rows, "doc_id long, word int, w_e4 long")

    # ---- python twin (identical integer rules) ----
    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def dist2(v, cw):
        keys = set(range(len(v))) | set(cw)
        return sum((v[d] - cw.get(d, 0)) ** 2 for d in keys)

    def twin(passes):
        seeds = sorted(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:2]
        cent = {c: dict(enumerate(vecs[i])) for c, i in enumerate(seeds)}
        for p in range(passes):
            assign = {
                i: min(cent, key=lambda c: (dist2(v, cent[c]), c)) for i, v in vecs.items()
            }
            if p == passes - 1:
                break
            new = {}
            for c in set(assign.values()):  # empty clusters vanish
                members = [vecs[i] for i in assign if assign[i] == c]
                n = len(members)
                cw = {}
                for d in range(3):
                    val = trunc_div(2 * sum(m[d] for m in members) + n, 2 * n)
                    if val != 0:
                        cw[d] = val
                new[c] = cw
            cent = new
        return {i: (c, dist2(vecs[i], cent[c])) for i, c in assign.items()}

    configs = [(2, {}), (2, {"_CENT_COLLECT_MAX": 1}), (5, {}), (5, {"_PIVOT_MAX_K": 0})]
    for passes, patch in configs:
        want = twin(passes)
        want_summary: dict[int, tuple[int, int]] = {}
        for c, d in want.values():
            n, sse = want_summary.get(c, (0, 0))
            want_summary[c] = (n + 1, sse + d)
        with monkeypatch.context() as m:
            for name, value in patch.items():
                m.setattr(km, name, value)
            summary = km.kmeans_fixedpoint(
                w, k=2, n_assign_passes=passes, weight_col="w_e4"
            ).collect()
            assigned = km.kmeans_fixedpoint(
                w, k=2, n_assign_passes=passes, weight_col="w_e4", output="assignments"
            ).collect()
        got = {r["cluster"]: (r["n_members"], r["sse_e8"]) for r in summary}
        assert got == want_summary, f"{passes} {patch}: spark={got} python={want_summary}"
        assert {r["doc_id"]: (r["cluster"], r["dist2"]) for r in assigned} == want
        # the corpus has two clean signed clusters; a >0 zero-drop would
        # discard the negative centroid coordinates and merge them
        assert sorted(n for n, _ in got.values()) == [3, 3]


def test_fixedpoint_pivot_kernel_bit_equal_to_join(spark, monkeypatch):
    """The pivot assignment kernel (one doc-keyed pivot + expression
    argmin) must reproduce the (doc, cluster)-join form bit-for-bit —
    summary AND assignments surfaces (pivot cutoff 0 forces the join
    kernel)."""
    from skripsi_mapreduce_spark.operators import kmeans as km
    from skripsi_mapreduce_spark.plans.extensions import _tfidf_weight_e4

    from .conftest import SF_DIR

    w = _tfidf_weight_e4(spark, SF_DIR)

    def run(out):
        return sorted(
            tuple(r)
            for r in km.kmeans_fixedpoint(
                w, k=5, n_assign_passes=2, weight_col="weight_e4", output=out
            ).collect()
        )

    for out in ("summary", "assignments"):
        a = run(out)
        with monkeypatch.context() as m:
            m.setattr(km, "_PIVOT_MAX_K", 0)
            b = run(out)
        assert a == b and len(a) > 0


def test_ivf_model_distributed_tier_bit_equal_to_fused(spark, monkeypatch):
    """The frozen-model kernel ladder (round-7): past the fused closure
    bound, kmeans_fixedpoint_ivf_model returns a DISTRIBUTED model
    (centroid/cmap DataFrames + the bounded c×d coarse rows) and
    assign_with_model routes through numpy probes + the join-scoring
    tier. At a size BOTH tiers can run, training assignments AND
    batch quantization must be bit-identical across the boundary
    (a closure bound of 0 cells forces the distributed tier)."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.operators import kmeans as km
    from skripsi_mapreduce_spark.operators.kmeans import (
        assign_with_model,
        kmeans_fixedpoint_ivf_model,
    )

    from .conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0).limit(40)

    def longform(df):
        return df.select(
            F.col("vec_id").alias("doc_id"),
            F.posexplode("embedding").alias("word", "x"),
        ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4"))

    def dense(df):
        return df.select(
            F.col("vec_id").cast("long").alias("doc_id"),
            F.col("embedding").alias("vec"),
        )

    a_f, m_f = kmeans_fixedpoint_ivf_model(
        longform(corpus), 12, weight_col="x_e4", dense=dense(corpus)
    )
    monkeypatch.setattr(km, "_FUSED_MAX_CELLS", 0)  # 12×64 cells > 0: the large-k tier
    a_d, m_d = kmeans_fixedpoint_ivf_model(
        longform(corpus), 12, weight_col="x_e4", dense=dense(corpus)
    )
    assert (m_f["kind"], m_d["kind"]) == ("fused", "distributed")
    assert sorted(map(tuple, a_f.collect())) == sorted(map(tuple, a_d.collect()))
    bf = sorted(map(tuple, assign_with_model(dense(batch), m_f).collect()))
    bd = sorted(map(tuple, assign_with_model(dense(batch), m_d).collect()))
    assert bf == bd and len(bf) == 40


def test_assignments_lazy_equals_eager(spark):
    """output='assignments_lazy' must return the identical (doc_id,
    cluster, dist2) table as output='assignments' — the only difference
    is WHEN the Lloyd chain materializes (no dedicated checkpoint job
    for single-consumer chains)."""
    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    w = emb.limit(200).select(
        emb.vec_id.alias("doc_id"),
        F.posexplode("embedding").alias("word", "x"),
    ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("w_e4"))
    eager = kmeans_fixedpoint(w, k=3, n_assign_passes=2, output="assignments")
    lazy = kmeans_fixedpoint(w, k=3, n_assign_passes=2, output="assignments_lazy")
    assert sorted(map(tuple, eager.collect())) == sorted(map(tuple, lazy.collect()))


def test_kmeans_fixedpoint_releases_weights_cache(spark):
    """Round-10 (round-9 verdict item): kmeans_fixedpoint must leave NO
    net DataFrame cache behind on any output. The summary and
    assignments outputs cache the weights for their passes and, as both
    materialize eagerly, release the cache before returning;
    assignments_lazy (whose point is deferring the chain into the
    consumer's first action) caches nothing. CacheManager is the right
    probe: DataFrame.persist registers there, RDD-level
    localCheckpoints do not."""
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    rows = [(d, w, (d * 7 + w * 13) % 997 + 1) for d in range(40) for w in range(6)]
    w = spark.createDataFrame(rows, "doc_id long, word int, w_e4 long")

    out = kmeans_fixedpoint(w, k=3, n_assign_passes=2, weight_col="w_e4")
    assert cm.isEmpty(), "summary output leaked the weights cache"
    assert out.count() == 3

    a = kmeans_fixedpoint(
        w, k=3, n_assign_passes=2, weight_col="w_e4", output="assignments"
    )
    assert cm.isEmpty(), "assignments output leaked the weights cache"
    assert a.count() == 40

    lazy = kmeans_fixedpoint(
        w, k=3, n_assign_passes=2, weight_col="w_e4", output="assignments_lazy"
    )
    assert lazy.count() == 40
    assert cm.isEmpty(), "assignments_lazy registered a weights cache"


def test_cluster_keywords_entry_releases_cache(spark):
    """The ta_cluster_keywords entry persists the TF-IDF long form for
    its two consumers (the kmeans chain and the labeling join) and must
    release that cache before returning (round-9 verdict leak)."""
    from skripsi_mapreduce_spark.plans import QUERIES

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = QUERIES["ta_cluster_keywords"](spark, "/root/testdata/sf0.001")
    assert cm.isEmpty(), "ta_cluster_keywords leaked its weights cache"
    assert out.count() > 0


def test_kmeans_fixedpoint_releases_cache_on_failing_checkpoint(spark, monkeypatch):
    """Round-11 (round-10 verdict #3): the unpersist must fire even when
    the eager materializing checkpoint THROWS (executor loss, OOM) —
    try/finally, not straight-line code. Injects the failure by patching
    DataFrame.localCheckpoint to raise on eager=True (the lazy per-pass
    lineage cuts keep working), then asserts the CacheManager is empty
    after the exception propagates — for both eager outputs."""
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    rows = [(d, w, (d * 7 + w * 13) % 997 + 1) for d in range(40) for w in range(6)]
    wdf = spark.createDataFrame(rows, "doc_id long, word int, w_e4 long")

    # patch the CONCRETE class (Spark 4: pyspark.sql.classic.dataframe
    # overrides the base method, so patching pyspark.sql.DataFrame is a
    # no-op on real instances)
    cls = type(wdf)
    orig = cls.localCheckpoint

    def boom(self, eager=True):
        if eager:
            raise RuntimeError("injected materialization failure")
        return orig(self, eager=eager)

    monkeypatch.setattr(cls, "localCheckpoint", boom)
    for output in ("summary", "assignments"):
        with pytest.raises(RuntimeError, match="injected"):
            kmeans_fixedpoint(
                wdf, k=3, n_assign_passes=2, weight_col="w_e4", output=output
            )
        assert cm.isEmpty(), f"{output}: failing checkpoint leaked the weights cache"
