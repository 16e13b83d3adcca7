"""Dedup + similarity operators vs independent Python oracles
(hypothesis properties per SURVEY.md §5.2 item 4) and the multimodal
plumbing round-trip."""

from __future__ import annotations

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from skripsi_mapreduce_spark.operators import dedup as dd
from skripsi_mapreduce_spark.operators import multimodal as mm
from skripsi_mapreduce_spark.operators import similarity as sim

from .conftest import SF_DIR

TOKEN_RE = re.compile(r"\b\w\w+\b")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),  # exact dup of 1
        (3, "alpha beta gamma delta zeta"),  # near dup of 1 (4/6)
        (4, "one two three four five six"),
        (5, "totally different words entirely here"),
        (6, "alpha beta gamma delta epsilon extra"),  # near dup (5/6)
    ]
    return rows


def _py_minhash_pairs(rows, threshold, num_hashes=16, rows_per_band=4):
    shingle = {d: set(t.lower().split()) for d, t in rows}
    sigs = {}
    for d, sh in shingle.items():
        sigs[d] = [
            min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh)
            for i in range(num_hashes)
        ]
    cands = set()
    ids = sorted(shingle)
    for a in ids:
        for b in ids:
            if a < b:
                for band in range(num_hashes // rows_per_band):
                    sl = slice(band * rows_per_band, (band + 1) * rows_per_band)
                    if sigs[a][sl] == sigs[b][sl]:
                        cands.add((a, b))
                        break
    out = {}
    for a, b in cands:
        inter = len(shingle[a] & shingle[b])
        jac = inter / len(shingle[a] | shingle[b])
        if jac >= threshold:
            out[(a, b)] = jac
    return out


def test_exact_dup_groups(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = dd.exact_duplicate_groups(df).collect()
    assert len(got) == 1
    assert got[0]["keep_id"] == 1 and got[0]["n_copies"] == 2


def test_dedup_exact_keeps_lowest_id(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dd.dedup_exact(df, ["text"])
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4, 5, 6]


def test_minhash_matches_python(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_near_dups(df, threshold=0.5).collect()
    }
    expect = _py_minhash_pairs(docs, threshold=0.5)
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == pytest.approx(expect[k])
    assert (1, 2) in got and got[(1, 2)] == 1.0


def test_jaccard_pairs_exact(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = dd.shingles(df, size=1)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in dd.jaccard_pairs(sh).collect()
    }
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == pytest.approx(4 / 6)
    assert got[(1, 6)] == pytest.approx(5 / 6)
    assert (1, 4) not in got  # no shared shingles


def test_jaccard_backends_identical(spark):
    """Bitmap kernel and shared-shingle join must agree bit-for-bit, in
    both the all-pairs and candidate-pairs forms (real corpus slice)."""
    from skripsi_mapreduce_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sh = dd.shingles(docs, "doc_id", "text", 2).localCheckpoint(eager=True)
    bm_all = sorted(map(tuple, dd.jaccard_pairs(sh).collect()))
    join_all = sorted(map(tuple, dd.jaccard_pairs(sh, bitmap_max_vocab=0).collect()))
    assert bm_all == join_all and len(bm_all) > 0

    sh1 = dd.shingles(docs, "doc_id", "text", 1).localCheckpoint(eager=True)
    cands = dd.minhash_candidates(
        dd.lsh_bands(dd.minhash_signatures(sh1, 16), 4)
    ).localCheckpoint(eager=True)
    bm_cand = sorted(map(tuple, dd.jaccard_pairs(sh1, cands).collect()))
    join_cand = sorted(
        map(tuple, dd.jaccard_pairs(sh1, cands, bitmap_max_vocab=0).collect())
    )
    assert bm_cand == join_cand and len(bm_cand) > 0


def test_simhash_identical_and_near(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = dd.simhash64(df)
    rows = {r["doc_id"]: (r["sim_hi"], r["sim_lo"]) for r in sigs.collect()}
    assert rows[1] == rows[2]  # identical docs -> identical signature
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_dups(sigs, max_hamming=64).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] <= pairs.get((1, 5), 64)  # near-dup closer than unrelated


def test_hamming_slices_partition_all_64_bits():
    for n in (2, 4, 9, 33, 64):
        slices = dd._hamming_slices(n)
        assert len(slices) == n
        bits = [(lane, off + i) for lane, off, w in slices for i in range(w)]
        assert len(bits) == 64 and len(set(bits)) == 64
        assert all(off + w <= 32 for _, off, w in slices)  # never cross a lane


def test_simhash_blocking_equals_allpairs(spark):
    """Pigeonhole blocking is lossless: equi-join candidates + verify must
    return EXACTLY the all-pairs kernel's rows on real documents."""
    from skripsi_mapreduce_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sigs = dd.simhash64(docs).localCheckpoint()
    for r in (0, 3, 8):
        blocked = sorted(map(tuple, dd.simhash_near_dups(sigs, max_hamming=r).collect()))
        brute = sorted(
            map(tuple, dd.simhash_near_dups(sigs, max_hamming=r, block=False).collect())
        )
        assert blocked == brute, f"max_hamming={r}"


def _planted_embeddings(spark, n_base=40, n_noise=80, dim=16):
    """Deterministic corpus: n_base random vectors, each with ONE tiny
    perturbation twin (cosine ~0.9999), plus unrelated noise vectors."""
    import random

    rng = random.Random(7)
    rows = []
    vid = 0
    for _ in range(n_base):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((vid, v))
        vid += 1
        rows.append((vid, [x + rng.uniform(-0.005, 0.005) for x in v]))
        vid += 1
    for _ in range(n_noise):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(dim)]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_bucketed_precision_and_recall(spark):
    """The hyperplane-bucketed path must be a SUBSET of the all-pairs
    kernel with identical cosines (precision 1.0 — the exact kernel runs
    inside buckets), and recall on planted near-identical twins must be
    high (4 planes + Hamming-1 multi-probe: P(collide) ~0.998 at
    cosine 0.9999)."""
    emb = _planted_embeddings(spark).localCheckpoint()
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sim.embedding_near_dups(emb, threshold=0.95, all_pairs=True).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sim.embedding_near_dups(emb, threshold=0.95, n_planes=4).collect()
    }
    assert set(bucketed) <= set(brute)
    assert all(brute[k] == v for k, v in bucketed.items())  # exact cosines
    planted = {k for k in brute if k[1] == k[0] + 1 and k[0] % 2 == 0}
    assert len(planted) >= 35  # sanity: the twins really are near-dups
    found = planted & set(bucketed)
    assert len(found) / len(planted) >= 0.9


def _py_cosine(a, b):
    dot = sum(round(x * y, 8) for x, y in zip(a, b))
    na = math.sqrt(sum(round(x * x, 8) for x in a))
    nb = math.sqrt(sum(round(x * x, 8) for x in b))
    return dot / (na * nb)


def test_topk_matches_numpy_oracle(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    q = rows[0]
    scored = sorted(
        ((round(_py_cosine(v, q), 6), -vid) for vid, v in rows.items()), reverse=True
    )
    expect = [(-nid, s) for s, nid in scored[:10]]
    got = [(r["vec_id"], float(r["score"])) for r in sim.topk_cosine(emb, q, k=10).collect()]
    assert [g[0] for g in got] == [e[0] for e in expect]
    for g, e in zip(got, expect):
        assert g[1] == pytest.approx(e[1], abs=2e-6)


def test_lsh_topk_self_hit_and_subset(spark):
    """LSH top-k must contain the query itself (cosine 1.0) and be a
    subset of the brute-force ranking by construction."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    got = [r["vec_id"] for r in sim.lsh_topk_cosine(emb, q, k=10, n_planes=4).collect()]
    assert 0 in got
    brute = [r["vec_id"] for r in sim.topk_cosine(emb, q, k=500).collect()]
    assert set(got) <= set(brute)


def test_embedding_near_dups_self_excluded_symmetric(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(50)
    out = sim.embedding_near_dups(emb, threshold=-1.0, all_pairs=True)
    rows = out.collect()
    n = emb.count()
    assert len(rows) == n * (n - 1) // 2
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_multimodal_image_features(spark):
    media = mm.synthetic_media(spark, n=30)
    feats = mm.extract_image_features(media)
    rows = feats.collect()
    assert len(rows) == media.filter(F.col("kind") == "image").count()
    for r in rows:
        assert r["n_bytes"] > 0
        assert len(r["content_hash"]) == 32
        assert len(r["feature"]) == 8
        assert 0.0 <= r["mean_luma"] <= 1.0


def test_multimodal_audio_and_frames(spark):
    media = mm.synthetic_media(spark, n=30)
    audio = mm.extract_audio_features(media).collect()
    assert all(a["rms"] >= 0 for a in audio)
    frames = mm.sample_frames(media, every_n=2, max_frames=3).collect()
    assert frames, "no frames sampled"
    per_media = {}
    for fr in frames:
        per_media.setdefault(fr["media_id"], []).append(fr["frame_idx"])
        assert hashlib.md5(bytes(fr["frame_bytes"])).hexdigest() == fr["frame_hash"]
    for idxs in per_media.values():
        assert idxs == sorted(idxs) and len(idxs) <= 3


def test_media_roundtrip_binary_struct(spark, tmp_path):
    """M1 contract: binary + nested struct columns survive a parquet
    round-trip bit-for-bit."""
    media = mm.synthetic_media(spark, n=12)
    p = str(tmp_path / "media.parquet")
    media.write.mode("overwrite").parquet(p)
    back = spark.read.parquet(p)
    a = sorted(
        (r["media_id"], bytes(r["content"]), r["meta"]["mime"]) for r in media.collect()
    )
    b = sorted(
        (r["media_id"], bytes(r["content"]), r["meta"]["mime"]) for r in back.collect()
    )
    assert a == b


def test_ivf_index_partitions_all_rows(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    indexed, centroids = sim.ivf_index(emb, n_list=8)
    assert len(centroids) == 8
    n = emb.count()
    assert indexed.count() == n  # every vector lands in exactly one list
    lists = {r["list_id"] for r in indexed.select("list_id").distinct().collect()}
    assert lists <= set(range(8))


def test_ivf_topk_self_hit_subset_and_probe_scaling(spark):
    """The query's own vector is always found (its list is the nearest
    probe by definition); results are a subset of brute force; probing
    every list equals brute force exactly."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    got = [r["vec_id"] for r in sim.ivf_topk_cosine(emb, q, k=10, n_list=8, n_probe=2).collect()]
    assert 0 in got
    brute = [r["vec_id"] for r in sim.topk_cosine(emb, q, k=500).collect()]
    assert set(got) <= set(brute)
    full = [r["vec_id"] for r in sim.ivf_topk_cosine(emb, q, k=10, n_list=8, n_probe=8).collect()]
    assert full == brute[:10]  # all lists probed == exact


def test_random_projection_shares_lsh_family(spark):
    """Bucket bit p of hyperplane_signs must equal sign(coordinate p) of
    random_projection — one deterministic family powers both."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(50)
    proj = sim.random_projection(emb, dim=64, out_dim=4)
    buckets = emb.select(
        "vec_id", sim.hyperplane_signs(F.col("embedding"), 64, 4).alias("bucket")
    )
    joined = {r["vec_id"]: (r["proj_e8"], r["bucket"]) for r in
              proj.join(buckets, "vec_id").collect()}
    assert len(joined) == 50
    for coords, bucket in joined.values():
        for p, c in enumerate(coords):
            assert ((bucket >> p) & 1) == (1 if c > 0 else 0)


def test_random_projection_deterministic_and_exact(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(20)
    a = {r["vec_id"]: r["proj_e8"] for r in sim.random_projection(emb, 64, 8).collect()}
    b = {r["vec_id"]: r["proj_e8"] for r in
         sim.random_projection(emb.repartition(7), 64, 8).collect()}
    assert a == b  # partitioning cannot move a fixed-point coordinate


def test_band_hash_wide_equals_long_form(spark, docs):
    """The one-wide-agg band hashes must equal the explode-based
    signatures path exactly (same md5 family, same band slicing)."""
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = dd.shingles(df, size=1)
    wide = sorted(map(tuple, dd.lsh_band_hashes(sh, 16, 4).collect()))
    long_ = sorted(
        map(tuple, dd.lsh_bands(dd.minhash_signatures(sh, 16), 4).collect())
    )
    assert wide == long_ and len(wide) == 6 * 4
    # non-divisible config: the trailing partial band must match too
    wide5 = sorted(map(tuple, dd.lsh_band_hashes(sh, 16, 5).collect()))
    long5 = sorted(
        map(tuple, dd.lsh_bands(dd.minhash_signatures(sh, 16), 5).collect())
    )
    assert wide5 == long5 and len(wide5) == 6 * 4  # 3 full bands + 1 partial


def test_lsh_verified_pairs_paths_identical(spark):
    """The fused all-pairs branch, the bucket-join branch (forced via
    bitmap_max_vocab=0), and the legacy candidates+verify composition all
    return the same verified pairs."""
    from skripsi_mapreduce_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sh = dd.shingles(docs, "doc_id", "text", 1).localCheckpoint(eager=True)
    fused = sorted(
        map(tuple, dd._lsh_verified_pairs(sh, 16, 4, 0.8).collect())
    )
    bucket = sorted(
        map(tuple, dd._lsh_verified_pairs(sh, 16, 4, 0.8, bitmap_max_vocab=0).collect())
    )
    legacy_cands = dd.minhash_candidates(dd.lsh_band_hashes(sh, 16, 4))
    legacy = sorted(
        map(
            tuple,
            dd.jaccard_pairs(sh, legacy_cands)
            .filter(F.col("jaccard") >= 0.8)
            .collect(),
        )
    )
    assert fused == bucket == legacy and len(fused) > 0


def test_embedding_bucketed_empty_input(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = sim.embedding_near_dups(emb, threshold=0.9, n_planes=4)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cosine"]


def test_topk_pandas_backend_matches_builtin(spark):
    """The Arrow/numpy backend must produce bit-identical scores and
    ordering to the JVM higher-order-function path."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    builtin = [(r["vec_id"], r["score"]) for r in sim.topk_cosine(emb, q, k=25).collect()]
    pandas_ = [
        (r["vec_id"], r["score"]) for r in sim.topk_cosine_pandas(emb, q, k=25).collect()
    ]
    assert builtin == pandas_


def test_ivf_fixed_point_all_lists_equals_exact(spark):
    """The fixed-point (oracle-exact) assignment path preserves the IVF
    contract: probing every list reproduces brute force, and the
    self-hit holds at small n_probe."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    got = [
        r["vec_id"]
        for r in sim.ivf_topk_cosine(
            emb, q, k=10, n_list=8, n_probe=2, fixed_point=True
        ).collect()
    ]
    assert 0 in got
    brute = [r["vec_id"] for r in sim.topk_cosine(emb, q, k=10).collect()]
    full = [
        r["vec_id"]
        for r in sim.ivf_topk_cosine(
            emb, q, k=10, n_list=8, n_probe=8, fixed_point=True
        ).collect()
    ]
    assert full == brute


def test_ivf_numpy_assign_bit_identical_to_hof(spark):
    """The Arrow/numpy coarse-assignment kernel (the default) must assign
    every vector to the SAME inverted list as the JVM HOF expression path
    — same e8 fixed-point keys, same lowest-list-id tie-break."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    np_idx, np_cent = sim.ivf_index(emb, n_list=16, fixed_point=True, kernel="numpy")
    hof_idx, hof_cent = sim.ivf_index(emb, n_list=16, fixed_point=True, kernel="hof")
    assert np_cent == hof_cent
    a = {r["vec_id"]: r["list_id"] for r in np_idx.select("vec_id", "list_id").collect()}
    b = {r["vec_id"]: r["list_id"] for r in hof_idx.select("vec_id", "list_id").collect()}
    assert a == b and len(a) == emb.count()


def test_pair_cosine_pandas_bit_identical_to_hof(spark):
    """The vectorized pair kernel must equal the built-in fixed-point
    fold bit-for-bit (same quantization, same 6dp rounding)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(40)
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]][:200],
        ["id_a", "id_b"],
    )
    fast = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in sim.pair_cosine_pandas(pairs, emb).collect()
    }
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    slow_df = (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(sim.cosine_col(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
    )
    slow = {(r["id_a"], r["id_b"]): r["cosine"] for r in slow_df.collect()}
    assert fast == slow


def test_pair_cosine_pandas_falls_back_past_vector_bound(spark):
    """Past max_vectors the broadcast kernel no longer raises (the
    round-6 behavior) — it auto-selects the distributed join tier and
    still returns the same scores."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pairs = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    got = sim.pair_cosine_pandas(pairs, emb, max_vectors=1).collect()
    want = sim.pair_cosine_pandas(pairs, emb).collect()
    assert got == want and len(got) == 1


def test_pq_rerank_precision_and_recall(spark):
    """ADC shortlist → exact re-rank: every returned score must equal the
    exact kernel's score for that id (precision 1.0 — the re-rank IS
    topk_cosine on the shortlist), the result must be a subset of the
    shortlist, recall@10 must EQUAL shortlist containment of the exact
    top-10 (the re-rank can't lose a shortlisted true neighbor), and it
    must dominate ADC-only recall. Absolute recall is data-dependent:
    0.9 measured at sf0.01 (the adjudicated claim, pinned by the driver
    gate + SCALING.md curve); this suite's sf0.001 draw measures 0.7."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint()
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact_all = {
        r["vec_id"]: r["score"] for r in sim.topk_cosine(emb, q, k=500).collect()
    }
    exact_top = set(sorted(exact_all, key=lambda v: (-exact_all[v], v))[:10])
    adc80 = [r["vec_id"] for r in sim.pq_topk(emb, q, k=80, m=8, n_codes=32).collect()]
    shortlist = set(adc80)
    got = sim.pq_rerank_topk(emb, q, k=10, rerank_mult=8, m=8, n_codes=32).collect()
    assert len(got) == 10
    assert all(r["vec_id"] in shortlist for r in got)
    assert all(r["score"] == exact_all[r["vec_id"]] for r in got)  # exact scores
    recall = len({r["vec_id"] for r in got} & exact_top) / 10
    containment = len(shortlist & exact_top) / 10
    assert recall == containment  # re-rank recovers every shortlisted hit
    adc_only_recall = len(set(adc80[:10]) & exact_top) / 10
    assert recall >= adc_only_recall
    assert recall >= 0.6  # sanity floor across the synthetic draws


def test_ivfpq_rerank_three_tier_invariants(spark):
    """IVF→ADC→exact: the result is a subset of the IVF-PQ shortlist,
    every score equals the exact kernel's score (precision 1.0), and
    recall equals shortlist containment of the exact top-10 — the
    re-rank can't lose a shortlisted true neighbor. Absolute recall is
    corpus-dependent (0.9 measured at sf0.01 at these knobs —
    SCALING.md); the invariants here hold on any draw."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint()
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact_all = {
        r["vec_id"]: r["score"] for r in sim.topk_cosine(emb, q, k=500).collect()
    }
    exact_top = set(sorted(exact_all, key=lambda v: (-exact_all[v], v))[:10])
    shortlist = {
        r["vec_id"]
        for r in sim.ivfpq_topk(
            emb, q, k=160, n_list=16, n_probe=12, m=8, n_codes=32
        ).collect()
    }
    got = sim.ivfpq_rerank_topk(
        emb, q, k=10, rerank_mult=16, n_list=16, n_probe=12, m=8, n_codes=32
    ).collect()
    assert len(got) == 10
    assert all(r["vec_id"] in shortlist for r in got)
    assert all(r["score"] == exact_all[r["vec_id"]] for r in got)
    recall = len({r["vec_id"] for r in got} & exact_top) / 10
    assert recall == len(shortlist & exact_top) / 10


def test_ivf_many_matches_per_query_probe(spark):
    """Batched IVF (one pruned scan, broadcast probe table) must be
    BIT-identical to running ivf_topk_cosine once per query — same probe
    lists, same fixed-point scores, same tie order."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint()
    qdf = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batched = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in sim.ivf_topk_cosine_many(emb, qdf, k=10, n_list=16, n_probe=4).collect()
    }
    for qid in range(4):
        qv = [float(x) for x in emb.filter(F.col("vec_id") == qid).head()["embedding"]]
        single = sim.ivf_topk_cosine(
            emb, qv, k=10, n_list=16, n_probe=4, fixed_point=True
        ).collect()
        for r in single:
            assert batched[(qid, r["vec_id"])] == r["score"], (qid, r)
    assert len(batched) == 40


def test_ivfpq_rerank_many_matches_per_query_stack(spark):
    """Batched full-stack ANN (one IVF-pruned ADC scan + one exact
    re-rank join for N queries) must be BIT-identical to running
    ivfpq_rerank_topk once per query — same probe lists, same codes,
    same ADC shortlists, same exact scores and tie order."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint()
    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batched = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in sim.ivfpq_rerank_topk_many(
            emb, qdf, k=10, rerank_mult=16, n_list=16, n_probe=12, m=8, n_codes=32
        ).collect()
    }
    for qid in range(3):
        qv = [float(x) for x in emb.filter(F.col("vec_id") == qid).head()["embedding"]]
        single = sim.ivfpq_rerank_topk(
            emb, qv, k=10, rerank_mult=16, n_list=16, n_probe=12, m=8, n_codes=32
        ).collect()
        assert len(single) == 10
        for r in single:
            assert batched[(qid, r["vec_id"])] == r["score"], (qid, r)
    assert len(batched) == 30


def test_recall_calibration_refresh_and_invariants(spark):
    """The calibration-freshness rule (round-6 demand): recall curves
    are dataset properties, so auto_n_probe_calibrated REMEASURES when
    the corpus digest changes and reuses the cache when it doesn't.
    Only DATA-INDEPENDENT invariants are pinned: monotone recall in
    n_probe, exactly 1.0 at the exhaustive budget, digest
    sensitivity/stability — never a specific recall number."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint()
    curve = sim.ivf_recall_curve(emb, n_list=8, k=5, budgets=[1, 2, 4, 8])
    vals = [curve[p] for p in sorted(curve)]
    assert vals == sorted(vals), curve  # monotone non-decreasing
    assert curve[8] == 1.0  # probing every list is the exact scan
    assert all(0.0 <= v <= 1.0 for v in vals)

    d1 = sim.corpus_digest(emb)
    assert d1 == sim.corpus_digest(emb)  # deterministic
    changed = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.array([F.lit(1.0)] * 64)).otherwise(
            F.col("embedding")
        ),
    )
    assert sim.corpus_digest(changed) != d1  # content-sensitive
    assert sim.corpus_digest(emb.filter(F.col("vec_id") > 0)) != d1

    cache: dict = {}
    p1 = sim.auto_n_probe_calibrated(emb, cache, n_list=8, k=5, budgets=[1, 2, 4, 8])
    assert cache["digest"] == d1 and cache["curve"][8] == 1.0
    frozen = dict(cache["curve"])
    p2 = sim.auto_n_probe_calibrated(emb, cache, n_list=8, k=5, budgets=[1, 2, 4, 8])
    assert p2 == p1 and cache["curve"] == frozen  # cache hit, no remeasure
    sim.auto_n_probe_calibrated(changed, cache, n_list=8, k=5, budgets=[1, 2, 4, 8])
    assert cache["digest"] == sim.corpus_digest(changed)  # refreshed


def test_auto_n_probe_rule():
    """Curve calibration picks the smallest measured budget meeting the
    target; the closed form assumes the unstructured worst case
    (recall ~ n_probe/n_list) and never exceeds n_list."""
    curve = {1: 0.2, 2: 0.5, 4: 0.7, 6: 0.8, 8: 0.8, 12: 0.9, 16: 1.0}
    assert sim.auto_n_probe(16, 0.9, curve) == 12
    assert sim.auto_n_probe(16, 0.75, curve) == 6
    assert sim.auto_n_probe(16, 1.0, curve) == 16
    assert sim.auto_n_probe(16, 0.9) == 15  # ceil(0.9 * 16), no curve
    assert sim.auto_n_probe(8, 0.99) == 8  # clamped to n_list
    # a curve that never reaches the target returns the exhaustive scan,
    # never the uncalibrated closed form (measurements already proved
    # smaller budgets insufficient)
    assert sim.auto_n_probe(16, 0.9, {4: 0.7, 8: 0.8, 16: 0.85}) == 16


def test_auto_n_planes_scaling_rule():
    """planes = ceil(log2(n / target)), floored — the measured SCALING.md
    knob. Spot values: 2k vectors/64 target -> 5; 20k -> 9; tiny -> floor."""
    assert sim.auto_n_planes(100, target_bucket_size=64) == 4  # floor
    assert sim.auto_n_planes(2000, target_bucket_size=64) == 5
    assert sim.auto_n_planes(20000, target_bucket_size=64) == 9
    assert sim.auto_n_planes(0) == 4


def test_embedding_near_dups_auto_planes_matches_explicit(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    p = sim.auto_n_planes(n)
    auto = sorted(map(tuple, sim.embedding_near_dups(emb, 0.9, n_planes="auto").collect()))
    explicit = sorted(map(tuple, sim.embedding_near_dups(emb, 0.9, n_planes=p).collect()))
    assert auto == explicit


def test_embedding_near_dups_default_is_auto_not_all_pairs(spark):
    """A caller who omits every knob must get the self-scaling LSH path
    ('auto'), and the O(n^2) audit path must require an explicit
    all_pairs=True — n_planes=None alone raises."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    default = sorted(map(tuple, sim.embedding_near_dups(emb, 0.9).collect()))
    auto = sorted(map(tuple, sim.embedding_near_dups(emb, 0.9, n_planes="auto").collect()))
    assert default == auto
    with pytest.raises(ValueError, match="all_pairs=True"):
        sim.embedding_near_dups(emb, 0.9, n_planes=None)


def test_semantic_near_dups_operator_auto_k(spark):
    """The lifted SemDeDup operator: k='auto' derives from the corpus
    size; output schema and per-cluster cap hold; fixed-k path equals the
    adjudicated entry's shape."""
    from skripsi_mapreduce_spark.operators.dedup import semantic_near_dups

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = semantic_near_dups(emb, k="auto", target_cluster_size=100, top_per_cluster=3)
    rows = out.collect()
    assert out.columns == ["cluster", "id_a", "id_b", "cosine_e6"]
    per = {}
    for r in rows:
        per[r["cluster"]] = per.get(r["cluster"], 0) + 1
        assert r["id_a"] < r["id_b"]
    assert per and all(v <= 3 for v in per.values())


def test_semantic_ivf_degenerates_to_exact_when_probing_all_lists(spark):
    """kmeans_fixedpoint_ivf with n_probe >= n_list considers every fine
    centroid, so the hierarchical assignment must be BIT-EQUAL to exact
    Lloyd — the invariant that makes the IVF path a pure pruning of the
    exact one (same keys, same tie-breaks), not a different algorithm."""
    from skripsi_mapreduce_spark.operators.dedup import semantic_near_dups

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # target 500 at n=500 -> k=2, n_list=2, probe 2 of 2
    ivf = sorted(map(tuple, semantic_near_dups(emb, assign="ivf").collect()))
    exact = sorted(map(tuple, semantic_near_dups(emb, assign="exact").collect()))
    assert ivf == exact


def test_semantic_ivf_pruned_assignment_covers_every_doc(spark):
    """With real pruning (target 50 at n=500 -> k=10, n_list=5, probe 2
    of 5) every doc must still land in EXACTLY one cluster — a doc whose
    probed lists were fine-empty would silently vanish without the
    nonempty-list restriction."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint_ivf

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    w = emb.select(
        F.col("vec_id").alias("doc_id"), F.posexplode("embedding").alias("word", "x")
    ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4"))
    a = kmeans_fixedpoint_ivf(w, k=10, n_probe=2, weight_col="x_e4")
    assert a.count() == n
    assert a.select("doc_id").distinct().count() == n
    assert a.select("cluster").distinct().count() > 2  # really partitioned
    assert a.filter(F.col("dist2") < 0).count() == 0  # exact ints, never negative


def test_semantic_ivf_kernel_parity_adversarial_ties(spark):
    """Tie-break torture for the three assignment implementations: tiny
    integer vectors from {-2..2} make equal distances, all-zero seeds,
    zero-weight words, and emptied coarse lists COMMON — exactly the
    cases smooth random embeddings never hit and where the driver-side
    numpy coarse model, the fused kernel, and the distributed join form
    could silently diverge on (key, id) ordering or trunc-vs-floor
    division of negative centroid sums. All three must stay bit-equal.

    Deterministic seed grid instead of hypothesis: each case costs
    multiple Spark jobs, so a fixed 6-case sweep keeps the suite fast
    while still covering negative/zero/tie-heavy inputs."""
    import random

    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint_ivf

    for seed in range(6):
        rng = random.Random(seed)
        n, dim = 40, 4
        rows = [
            (i, [float(rng.choice([-2, -1, 0, 0, 1, 2])) for _ in range(dim)])
            for i in range(n)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        w = emb.select(
            F.col("vec_id").alias("doc_id"), F.posexplode("embedding").alias("word", "x")
        ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4"))
        dense = emb.select(
            F.col("vec_id").cast("long").alias("doc_id"), F.col("embedding").alias("vec")
        )
        k = 8
        join_form = sorted(
            map(tuple, kmeans_fixedpoint_ivf(w, k=k, n_probe=2, weight_col="x_e4").collect())
        )
        fused = sorted(
            map(
                tuple,
                kmeans_fixedpoint_ivf(
                    w, k=k, n_probe=2, weight_col="x_e4", dense=dense
                ).collect(),
            )
        )
        assert join_form == fused, f"seed={seed}"
        assert len(fused) == n, f"seed={seed}: doc lost under ties"


def test_semantic_incremental_routes_twins_to_their_base_cluster(spark):
    """Incremental SemDeDup invariants: a planted 1.02-rescaled twin of
    a corpus doc must be quantized (through the TRAINED model — no
    re-clustering) into its base's cluster, score cosine 1.0 against
    it, and flag is_new=0; untouched batch docs on this corpus (max raw
    pairwise cosine ~0.51) flag is_new=1 with max < eps."""
    from skripsi_mapreduce_spark.operators.dedup import (
        semantic_assignments,
        semantic_incremental,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).localCheckpoint()
    off = emb.agg(F.max("vec_id")).head()[0] + 1
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    twins = emb.filter(F.col("vec_id") % 20 == 1).select(
        (F.col("vec_id") + F.lit(int(off))).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.02)).alias("embedding"),
    )
    batch = emb.filter(F.col("vec_id") % 5 == 0).unionByName(twins)
    out = {
        r["doc_id"]: r
        for r in semantic_incremental(
            corpus, batch, eps=0.99, target_cluster_size=50
        ).collect()
    }
    n_twins = twins.count()
    assert n_twins > 0
    corpus_clusters = {
        r["doc_id"]: r["cluster"]
        for r in semantic_assignments(
            corpus, k=max(2, -(-corpus.count() // 50))
        ).collect()
    }
    for r in emb.filter(F.col("vec_id") % 20 == 1).select("vec_id").collect():
        base, twin = r["vec_id"], r["vec_id"] + int(off)
        assert out[twin]["is_new"] == 0, twin
        assert out[twin]["max_cosine_e6"] == 1_000_000, twin
        assert out[twin]["cluster"] == corpus_clusters[base], twin
    for did, r in out.items():
        if did < off:  # raw batch docs: nothing dedup-grade on this corpus
            assert r["is_new"] == 1 and r["max_cosine_e6"] < 990_000, did


def test_semantic_ivf_numpy_probe_kernel_matches_join_form(spark):
    """The Arrow/numpy probe kernel (dense matmul, codebook in the
    closure) must produce BIT-IDENTICAL assignments to the long-form
    join probes — same e4 quantization, same key arithmetic (exact ints
    in float64), same (key, m) tie-break via stable argsort."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint_ivf

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    w = emb.select(
        F.col("vec_id").alias("doc_id"), F.posexplode("embedding").alias("word", "x")
    ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4"))
    dense = emb.select(F.col("vec_id").cast("long").alias("doc_id"), F.col("embedding").alias("vec"))
    join_form = sorted(
        map(tuple, kmeans_fixedpoint_ivf(w, k=10, n_probe=2, weight_col="x_e4").collect())
    )
    numpy_form = sorted(
        map(
            tuple,
            kmeans_fixedpoint_ivf(w, k=10, n_probe=2, weight_col="x_e4", dense=dense).collect(),
        )
    )
    assert join_form == numpy_form


def test_ivf_partitioned_store_prunes_and_matches(spark, tmp_path):
    """The write-time IVF layout delivers REAL partition pruning: the
    probe's scan plans a list_id partition filter and reads only the
    probed directories; results equal the inline ivf_topk_cosine path."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_store")
    cents = sim.write_ivf_partitioned(emb, path, n_list=8)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    probed = sim.probe_ivf_partitioned(spark, path, cents, q, k=10, n_probe=2)
    plan = probed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "list_id" in part_lines[0], plan
    inline = sim.ivf_topk_cosine(emb, q, k=10, n_list=8, n_probe=2, fixed_point=True)
    assert [tuple(r) for r in probed.collect()] == [tuple(r) for r in inline.collect()]
    # the pruned scan reads fewer files than the full store
    import glob as g
    all_parts = len(g.glob(path + "/list_id=*"))
    assert all_parts == 8


def test_pq_encode_codes_valid_and_partition_invariant(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    seeds = (
        emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), "_id").limit(16).collect()
    )
    cents = {i: [float(x) for x in r["_v"]] for i, r in enumerate(seeds)}
    a = {r["vec_id"]: list(r["codes"]) for r in
         sim.pq_encode(emb, cents, m=8).select("vec_id", "codes").collect()}
    b = {r["vec_id"]: list(r["codes"]) for r in
         sim.pq_encode(emb.repartition(7), cents, m=8).select("vec_id", "codes").collect()}
    assert a == b and len(a) == emb.count()
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in a.values())


def test_pq_topk_ordering_and_determinism(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    got = [(r["vec_id"], r["adc_e8"]) for r in sim.pq_topk(emb, q, k=10).collect()]
    assert len(got) == 10
    scores = [s for _, s in got]
    assert scores == sorted(scores)  # ascending ADC distance
    again = [(r["vec_id"], r["adc_e8"]) for r in
             sim.pq_topk(emb.repartition(5), q, k=10).collect()]
    assert got == again


def test_ivfpq_composes_subset_of_full_pq(spark):
    """IVF-PQ results are the full-corpus PQ ranking restricted to the
    probed lists (codes are probe-independent: codebook seeded from the
    full corpus); probing every list reproduces plain PQ exactly."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    full_pq = [(r["vec_id"], r["adc_e8"]) for r in sim.pq_topk(emb, q, k=10).collect()]
    all_lists = [
        (r["vec_id"], r["adc_e8"])
        for r in sim.ivfpq_topk(emb, q, k=10, n_list=8, n_probe=8).collect()
    ]
    assert all_lists == full_pq
    probed = {
        (r["vec_id"], r["adc_e8"])
        for r in sim.ivfpq_topk(emb, q, k=10, n_list=8, n_probe=2).collect()
    }
    assert probed <= {(r["vec_id"], r["adc_e8"]) for r in sim.pq_topk(emb, q, k=2000).collect()}


def test_topk_cosine_many_matches_single_query_path(spark):
    """One-scan batched top-k must equal the single-query TakeOrdered
    path bit-for-bit, per query."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 7, 42]
    qdf = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    many = sim.topk_cosine_many(emb, qdf, k=10)
    got = {}
    for r in many.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    for qid in qids:
        q = [float(x) for x in emb.filter(F.col("vec_id") == qid).head()["embedding"]]
        single = [(r["vec_id"], r["score"]) for r in sim.topk_cosine(emb, q, k=10).collect()]
        assert got[qid] == single, qid


def test_random_projection_numpy_bit_identical_to_hof(spark):
    """Kernel-selection rule: the Arrow/numpy projection must reproduce
    the interpreted HOF fold bit-for-bit (same e8 rounding, same int64
    sums) — the same pin pair_cosine_pandas and the IVF assigner carry."""
    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators.similarity import random_projection

    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    a = sorted(
        (r["vec_id"], tuple(r["proj_e8"]))
        for r in random_projection(emb, 64, 8, kernel="numpy").collect()
    )
    b = sorted(
        (r["vec_id"], tuple(r["proj_e8"]))
        for r in random_projection(emb, 64, 8, kernel="hof").collect()
    )
    assert a == b and len(a) > 0


def test_dup_edges_connectivity_equivalent(spark):
    """minhash_dup_edges must yield the SAME components — and the same
    node set — as the expanded pair list (the proof dedup_group_keep's
    linear edge set stands on)."""
    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators.components import connected_components

    docs = load_table(spark, SF_DIR, "documents")
    kw = dict(threshold=0.8, num_hashes=16, rows_per_band=4)
    pairs = dd.minhash_near_dups(docs, **kw)
    edges = dd.minhash_dup_edges(docs, **kw)
    via_pairs = sorted(map(tuple, connected_components(pairs, "id_a", "id_b").collect()))
    via_edges = sorted(map(tuple, connected_components(edges, "id_a", "id_b").collect()))
    assert via_pairs == via_edges and len(via_pairs) > 0


def test_incremental_verdicts_semantics(spark):
    """minhash_near_dups_against: an exact copy of a corpus doc scores
    1.0, an unrelated doc is absent, and a batch doc identical to
    ANOTHER batch doc (shared fingerprint rep) inherits the verdict."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven eight")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
         (11, "alpha beta gamma delta epsilon zeta"),   # same content again
         (12, "totally unrelated words nothing shared here")],
        ["doc_id", "text"],
    )
    out = {
        r.batch_id: r.max_jaccard
        for r in dd.minhash_near_dups_against(corpus, batch, threshold=0.8).collect()
    }
    assert out == {10: 1.0, 11: 1.0}


def test_incremental_over_cap_arm_matches_dictionary_arm(spark, monkeypatch):
    """Past the dense-dictionary cap, minhash_near_dups_against verifies
    its band-join candidates with the candidate-restricted shared-shingle
    join instead of bitmaps. Both arms must return the same verdicts on a
    corpus with exact and near copies."""
    from skripsi_mapreduce_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    kw = dict(threshold=0.8, num_hashes=16, rows_per_band=4)
    dictionary = sorted(map(tuple, dd.minhash_near_dups_against(corpus, batch, **kw).collect()))

    calls = []
    shared = dd._shared_shingle_jaccard
    monkeypatch.setattr(dd, "BITMAP_MAX_VOCAB", 1)
    monkeypatch.setattr(
        dd, "_shared_shingle_jaccard", lambda *a: calls.append(1) or shared(*a)
    )
    over_cap = sorted(map(tuple, dd.minhash_near_dups_against(corpus, batch, **kw).collect()))
    assert calls, "the over-cap arm was not taken"
    assert over_cap == dictionary
    verdicts = {j for _, j in dictionary}
    assert 1.0 in verdicts and any(j < 1.0 for j in verdicts)


def _fused_vs_per_row(sh, num_hashes=16, rows_per_band=4):
    """(fused rows, per-row rows): _fused_sig_table against its per-row
    definition, _band_hash_wide joined with _shingle_bitmaps on doc_id."""
    d, vocab = dd._bitmap_dictionary(sh, dd.BITMAP_MAX_VOCAB)
    n_words = (vocab + 63) // 64
    fused = dd._fused_sig_table(sh, d, n_words, num_hashes, rows_per_band)
    bm, _ = dd._shingle_bitmaps(sh, dd.BITMAP_MAX_VOCAB)
    per_row = dd._band_hash_wide(sh, num_hashes, rows_per_band).join(bm, "doc_id")
    cols = ["doc_id", "bands", "bm", "n"]
    assert fused.columns == cols
    assert fused.schema == per_row.select(*cols).schema
    return (
        sorted(map(tuple, fused.collect())),
        sorted(map(tuple, per_row.select(*cols).collect())),
    )


def test_fused_sig_table_equals_per_row_definition(spark):
    """_fused_sig_table hashes each dictionary word once and takes the
    MINs over the joined hash columns. Its rows must be bit-identical to
    the per-row definition (every (document, shingle) row hashed) on the
    sf0.001 documents, and, on shingles with non-ASCII letters,
    apostrophes, quotes and 300-character words spread over several
    bitmap words, also to a hashlib MinHash computed in Python."""
    from skripsi_mapreduce_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sh = dd.shingles(docs, "doc_id", "text", 1).localCheckpoint(eager=True)
    fused, per_row = _fused_vs_per_row(sh)
    assert fused == per_row and len(fused) > 0

    odd = ["don't", "naïve café", "日本語のテキスト", "x" * 300, "it's a 'quote'",
           "back\\slash", "ünïcödé" * 40, 'say "hi"']
    plain = [f"w{i:03d}" for i in range(150)]
    sets = {d: {odd[d - 1], odd[d % 8]} | {w for j, w in enumerate(plain) if j % (d + 1) == 1}
            for d in range(1, 9)}
    sets[9] = set(sets[3])  # an identical set under another id
    rows = [(d, w) for d, ws in sets.items() for w in ws]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    vocab = sorted(set().union(*sets.values()))
    n_words = (len(vocab) + 63) // 64
    assert n_words >= 2
    for rows_per_band in (4, 5):  # 5: a trailing partial band
        fused, per_row = _fused_vs_per_row(sh, 16, rows_per_band)
        assert fused == per_row and len(fused) == 9
        for doc_id, bands, bm, n in fused:
            ws = sets[doc_id]
            mins = [min(hashlib.md5(f"{i}:{w}".encode()).hexdigest() for w in ws)
                    for i in range(16)]
            assert bands == [
                hashlib.md5(",".join(mins[b:b + rows_per_band]).encode()).hexdigest()
                for b in range(0, 16, rows_per_band)
            ]
            bits = [vocab.index(w) for w in ws]
            words_ = [sum(1 << (s % 64) for s in bits if s // 64 == k) for k in range(n_words)]
            assert bm == [x - (1 << 64) if x >= 1 << 63 else x for x in words_]
            assert n == len(ws)


def test_incremental_degenerate_inputs_both_arms(spark, monkeypatch):
    """minhash_near_dups_against on degenerate inputs: an empty batch, a
    batch of empty texts, a one-document corpus, and a corpus of many
    exact copies with identical batch documents. The dictionary arm and
    the over-cap arm (BITMAP_MAX_VOCAB = 1) return the same verdicts,
    and only the over-cap arm runs the fingerprint cascade."""
    text = "alpha beta gamma delta epsilon zeta"
    schema = "doc_id long, text string"
    one = [(1, text)]
    copies = [(i, text) for i in range(1, 41)] + [(99, "one two three four five")]
    cases = {
        "empty batch": (one, [], {}),
        "empty texts": (one, [(10, ""), (11, "  "), (12, "a")], {}),
        "one-doc corpus": (one, [(10, text), (11, "alpha beta gamma delta")], {10: 1.0}),
        "exact copies": (
            copies,
            [(10, text), (11, text), (12, text), (13, "six seven eight nine")],
            {10: 1.0, 11: 1.0, 12: 1.0},
        ),
    }
    cascade = dd._fingerprint_cascade
    calls = []
    monkeypatch.setattr(
        dd, "_fingerprint_cascade", lambda sh: calls.append(1) or cascade(sh)
    )

    def verdicts(corpus, batch):
        out = dd.minhash_near_dups_against(
            spark.createDataFrame(corpus, schema), spark.createDataFrame(batch, schema)
        )
        assert out.columns == ["batch_id", "max_jaccard"]
        return {r.batch_id: r.max_jaccard for r in out.collect()}

    dictionary = {name: verdicts(c, b) for name, (c, b, _) in cases.items()}
    assert not calls, "the dictionary arm ran the fingerprint cascade"
    monkeypatch.setattr(dd, "BITMAP_MAX_VOCAB", 1)
    over_cap = {name: verdicts(c, b) for name, (c, b, _) in cases.items()}
    assert len(calls) == 2 * len(cases), "the over-cap arm was not taken"
    assert over_cap == dictionary == {name: v for name, (_, _, v) in cases.items()}


def test_dup_edges_on_transitive_chain(spark):
    """Chained near-dups (doc_i ~ doc_{i+1} but doc_0 !~ doc_k): the
    keep-list must close transitively — every chain member maps to the
    chain head even when its direct Jaccard to the head is far below
    the threshold. Verified against a Python union-find over the
    operator's own verified pairs, and edges==pairs components."""
    from skripsi_mapreduce_spark.io import load_table  # noqa: F401
    from skripsi_mapreduce_spark.operators.components import connected_components

    words = [f"w{i:03d}" for i in range(60)]
    docs = [(i, " ".join(words[i * 2 : i * 2 + 20])) for i in range(12)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    kw = dict(threshold=0.8, num_hashes=16, rows_per_band=4)
    pairs = dd.minhash_near_dups(df, **kw).collect()
    # adjacent docs share 18/22 shingles = 0.818 >= 0.8 (each found with
    # ~91% band-collision probability — LSH misses are legal and both
    # engines state the same banding); skip-one pairs share 16/24 =
    # 0.667 < 0.8 — whatever survives is a chain, never a clique
    found = {(r.id_a, r.id_b) for r in pairs}
    assert found and found <= {(i, i + 1) for i in range(11)}

    # python union-find oracle over the verified pairs
    parent = list(range(12))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for r in pairs:
        a, b = find(r.id_a), find(r.id_b)
        if a != b:
            parent[max(a, b)] = min(a, b)
    expected = sorted((i, find(i)) for i in range(12))

    edges = dd.minhash_dup_edges(df, **kw)
    got = sorted((r.node, r.component) for r in
                 connected_components(edges, "id_a", "id_b").collect())
    in_graph = {i for p_ in found for i in p_}
    assert got == [e for e in expected if e[0] in in_graph]
    # the chain genuinely produced a multi-hop component
    assert any(node - comp >= 2 for node, comp in got)


def test_pair_cosine_join_tier_bit_identical(spark):
    """The distributed pair-scoring tier (round-7): pair_cosine_pandas
    auto-falls-back to pair_cosine_join past max_vectors (here forced
    with max_vectors=1), and the two tiers must be BIT-identical —
    same float64 gather, same e8 fixed-point products, same 6dp
    rounding; only where the vectors come from differs."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a")).limit(30)
    b = emb.select(F.col("vec_id").alias("id_b")).limit(30)
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    bc = sim.pair_cosine_pandas(pairs, emb).orderBy("id_a", "id_b").collect()
    jn = sim.pair_cosine_pandas(pairs, emb, max_vectors=1).orderBy(
        "id_a", "id_b"
    ).collect()
    assert len(bc) == len(jn) == 435
    assert bc == jn


def test_semantic_family_identical_across_scoring_tiers(spark, monkeypatch):
    """SemDeDup end-to-end across the scoring-tier boundary: the family
    scores through the distributed join tier by DEFAULT (the 100 TB
    route, nothing collected — and measured faster at every local sf);
    forcing every scoring call back onto the broadcast kernel must
    reproduce the semantic_keep verdicts and semantic_near_dups pairs
    bit for bit."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).localCheckpoint()

    keep_jn = sorted(map(tuple, dd.semantic_keep(emb, target_cluster_size=100).collect()))
    nd_jn = sorted(map(tuple, dd.semantic_near_dups(emb, target_cluster_size=100).collect()))

    orig_pandas = sim.pair_cosine_pandas

    def forced_broadcast(pairs, emb_, **kwargs):
        kwargs["max_vectors"] = 1 << 62  # never fall back (would recurse)
        return orig_pandas(pairs, emb_, **kwargs)

    monkeypatch.setattr(sim, "pair_cosine_join", forced_broadcast)
    keep_bc = sorted(map(tuple, dd.semantic_keep(emb, target_cluster_size=100).collect()))
    nd_bc = sorted(map(tuple, dd.semantic_near_dups(emb, target_cluster_size=100).collect()))
    assert keep_bc == keep_jn and len(keep_bc) == emb.count()
    assert nd_bc == nd_jn and len(nd_bc) > 0


def test_streaming_semantic_plan_forces_no_broadcast(spark):
    """Round-7 scale fix: semantic_verdicts_stream must NOT hint-force a
    broadcast of corpus_assign (an n-row table). With the size-based
    auto-broadcast disabled, the batch twin of the stream plan must
    contain no broadcast join at all — proving every broadcast that
    ever appears is the planner's own bounded size decision, never an
    unconditional hint."""
    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint_ivf_model
    from skripsi_mapreduce_spark.streaming.semantic import semantic_verdicts_stream

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).localCheckpoint()
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    w = corpus.select(
        F.col("vec_id").alias("doc_id"), F.posexplode("embedding").alias("word", "x")
    ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4"))
    dense_c = corpus.select(
        F.col("vec_id").cast("long").alias("doc_id"), F.col("embedding").alias("vec")
    )
    corpus_assign, model = kmeans_fixedpoint_ivf_model(
        w, 8, weight_col="x_e4", dense=dense_c
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = semantic_verdicts_stream(
            batch, corpus_assign, model, emb, 990_000
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert out.count() == batch.count()  # and the shuffled plan still runs
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_streaming_semantic_batch_twin_equals_semantic_incremental(spark):
    """semantic_verdicts_stream is pure DataFrame ops, so running it on
    BATCH inputs must reproduce dedup.semantic_incremental row for row
    on the same corpus/batch/knobs — pinning Spark-vs-Spark (not just
    via the shared oracle) that the sentinel-union aggregation equals
    the batch operator's left-join + COALESCE semantics."""
    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.operators.dedup import semantic_incremental
    from skripsi_mapreduce_spark.operators.kmeans import kmeans_fixedpoint_ivf_model
    from skripsi_mapreduce_spark.streaming.semantic import semantic_verdicts_stream

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).localCheckpoint()
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    k = max(2, -(-corpus.count() // 50))
    w = corpus.select(
        F.col("vec_id").alias("doc_id"), F.posexplode("embedding").alias("word", "x")
    ).select("doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4"))
    dense_c = corpus.select(
        F.col("vec_id").cast("long").alias("doc_id"), F.col("embedding").alias("vec")
    )
    corpus_assign, model = kmeans_fixedpoint_ivf_model(
        w, k, weight_col="x_e4", dense=dense_c
    )
    stream_twin = sorted(
        map(
            tuple,
            semantic_verdicts_stream(
                batch, corpus_assign, model, emb, 990_000
            ).collect(),
        )
    )
    batch_op = sorted(
        map(
            tuple,
            semantic_incremental(
                corpus, batch, eps=0.99, k=k, target_cluster_size=50
            ).collect(),
        )
    )
    assert stream_twin == batch_op and len(stream_twin) == batch.count()


def test_pair_cosine_join_strict_mode(spark):
    """Round-8 (r7 ADVICE): the join tier's silent-drop edge gets an
    opt-in loud contract — strict=True outer-joins and fails the job
    naming the orphaned pair, matching the broadcast tier's loud gather;
    on complete pairs strict and lenient are row-identical."""
    import pytest

    from skripsi_mapreduce_spark.operators.similarity import pair_cosine_join

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.6, 0.8]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    ok = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    bad = spark.createDataFrame([(0, 1), (0, 9)], "id_a long, id_b long")
    lenient = sorted(map(tuple, pair_cosine_join(ok, emb).collect()))
    strict = sorted(map(tuple, pair_cosine_join(ok, emb, strict=True).collect()))
    assert lenient == strict and len(strict) == 2
    assert pair_cosine_join(bad, emb).count() == 1  # silent drop, documented
    with pytest.raises(Exception, match="missing from emb"):
        pair_cosine_join(bad, emb, strict=True).count()


def test_minhash_near_dups_shingle_passthrough(spark):
    """Round-8 (r7 ADVICE): a prebuilt shingle table handed to
    minhash_near_dups must produce row-identical output to the
    self-shingling call (the auto-selector's LSH arm reuses its
    profile's checkpointed shingles instead of re-tokenizing)."""
    from skripsi_mapreduce_spark.operators.dedup import minhash_near_dups, shingles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = shingles(docs, size=1).localCheckpoint(eager=True)
    base = sorted(map(tuple, minhash_near_dups(docs, threshold=0.9).collect()))
    passed = sorted(
        map(tuple, minhash_near_dups(docs, threshold=0.9, sh=sh).collect())
    )
    assert base == passed and len(base) > 0


def test_ivf_append_partitioned_matches_rebuild_probe(spark, tmp_path):
    """Round-8 incremental index maintenance: appending a batch with the
    FROZEN centroids must leave the store probe-equivalent to assigning
    the union inline with the same centroids — and the appended rows
    must land in exactly the list a rebuild with those centroids gives
    them, with pruning intact."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf_store")
    cents = sim.write_ivf_partitioned(corpus, path, n_list=8)
    sim.ivf_append_partitioned(batch, path, cents)
    # every appended row sits in its frozen-assignment list
    stored = {r["vec_id"]: r["list_id"] for r in spark.read.parquet(path).collect()}
    want = {
        r["vec_id"]: r["list_id"]
        for r in sim._ivf_assign_numpy(emb, cents, "embedding")
        .select("vec_id", "list_id")
        .collect()
    }
    assert stored == want
    # probe over the merged store == exact top-k restricted to the
    # probed lists of the union (the same contract the entry adjudicates)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    probed = sim.probe_ivf_partitioned(spark, path, cents, q, k=10, n_probe=2)
    probe_ids = sorted(
        sorted(cents),
        key=lambda lid: (
            float(
                sim._py_dot_i64(cents[lid], cents[lid])
                - 2 * sim._py_dot_i64(q, cents[lid])
            ),
            lid,
        ),
    )[:2]
    inline = sim.topk_cosine(
        sim._ivf_assign_numpy(emb, cents, "embedding").filter(
            F.col("list_id").isin(probe_ids)
        ),
        q,
        10,
    )
    assert [tuple(r) for r in probed.collect()] == [tuple(r) for r in inline.collect()]
    # batch members appear in the store (append really happened)
    assert any(v % 5 == 0 for v in stored)


def test_ivfpq_append_partitioned_matches_rebuild(spark, tmp_path):
    """Round-9 PQ-tier incremental maintenance: appending a batch with
    the FROZEN coarse centroids + FROZEN PQ codebook must leave the
    store row-identical (list_id AND codes) to a full rebuild over the
    union under the same seeds, and the three-tier probe over the
    appended store must equal the probe over the rebuilt store."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    path_a = str(tmp_path / "ivfpq_append")
    path_r = str(tmp_path / "ivfpq_rebuild")
    ivf_c, pq_c = sim.write_ivfpq_partitioned(
        corpus, path_a, n_list=8, m=8, n_codes=8
    )
    sim.ivfpq_append_partitioned(batch, path_a, ivf_c, pq_c, m=8)
    # rebuild = assign + encode the UNION with the same frozen models
    # (write_ivfpq_partitioned would re-seed from the union, which is a
    # different index; the maintenance contract is frozen-model parity)
    rebuilt = sim.pq_encode(
        sim._ivf_assign_numpy(emb, ivf_c, "embedding"), pq_c, 8
    )
    rebuilt.write.mode("overwrite").partitionBy("list_id").parquet(path_r)
    got = {
        r["vec_id"]: (r["list_id"], tuple(r["codes"]))
        for r in spark.read.parquet(path_a).collect()
    }
    want = {
        r["vec_id"]: (r["list_id"], tuple(r["codes"]))
        for r in spark.read.parquet(path_r).collect()
    }
    assert got == want and any(v % 5 == 0 for v in got)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    probed_a = sim.probe_ivfpq_partitioned(
        spark, path_a, ivf_c, pq_c, q, k=10, rerank_mult=4, n_probe=2, m=8
    )
    probed_r = sim.probe_ivfpq_partitioned(
        spark, path_r, ivf_c, pq_c, q, k=10, rerank_mult=4, n_probe=2, m=8
    )
    assert [tuple(r) for r in probed_a.collect()] == [
        tuple(r) for r in probed_r.collect()
    ]


def test_ivf_append_hof_fallback_matches_numpy(spark, tmp_path):
    """Round-8 ADVICE: ivf_append_partitioned's non-numpy fixed-point
    fallback must assign bit-identically to the numpy kernel (the key
    is now a pure int64 expression mirroring ivf_index's HOF path —
    previously an untested double-typed branch)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf_store_hof")
    cents = sim.write_ivf_partitioned(corpus, path, n_list=8)
    sim.ivf_append_partitioned(batch, path, cents, kernel="hof")
    stored = {
        r["vec_id"]: r["list_id"]
        for r in spark.read.parquet(path)
        .join(batch.select("vec_id"), "vec_id", "semi")
        .collect()
    }
    want = {
        r["vec_id"]: r["list_id"]
        for r in sim._ivf_assign_numpy(batch, cents, "embedding")
        .select("vec_id", "list_id")
        .collect()
    }
    assert stored == want and len(stored) > 0


def test_near_dups_facade_parity_all_lanes(spark):
    """Round-9 facade (dedup.near_dups): one call signature per lane
    must reproduce the hand-composed pipelines row-identically — text
    (simhash64 + blocked join), image/audio/video (the multimodal
    fingerprint kernels + the same join), and the incremental
    batch-vs-corpus route (cross-side blocking). Entries stay
    hand-composed; this pins the dispatcher against drift."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.operators import dedup as dd
    from skripsi_mapreduce_spark.operators import multimodal as mm
    from skripsi_mapreduce_spark.plans.extensions2 import (
        _af_wav_blob,
        _dh_blob,
        _vh_video_blob,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # text lane
    want = sorted(
        map(
            tuple,
            dd.simhash_near_dups(dd.simhash64(docs), max_hamming=8).collect(),
        )
    )
    got = sorted(
        map(tuple, dd.near_dups(docs, "text", max_hamming=8).collect())
    )
    assert got == want and len(got) > 0

    # media lanes: the adjudicated entries' fixture blobs
    did = F.col("doc_id")
    base = F.when(did % 10 == 9, did - 1).otherwise(did).cast("string")
    twin = did % 20 == 19
    small = docs.select("doc_id").filter(did < 120)
    for kind, blob, kern, kw in [
        ("image", _dh_blob(base, twin), mm.image_dhash, {}),
        ("audio", _af_wav_blob(base, twin), mm.audio_fingerprint, {}),
        ("video", _vh_video_blob(base, twin), mm.video_dhash, {}),
    ]:
        media = small.select(
            did.alias("media_id"), F.lit(kind).alias("kind"), blob.alias("content")
        )
        sig = kern(media).withColumnRenamed("media_id", "doc_id")
        want = sorted(
            map(tuple, dd.simhash_near_dups(sig, max_hamming=4).collect())
        )
        got = sorted(
            map(tuple, dd.near_dups(media, kind, max_hamming=4).collect())
        )
        assert got == want and len(got) > 0, kind

    # incremental route (image lane): facade == cross-side blocking
    corp = small.filter(did % 5 != 0).select(
        did.alias("media_id"), F.lit("image").alias("kind"),
        _dh_blob(did.cast("string"), F.lit(False)).alias("content"),
    )
    batch = small.filter(did % 20 == 1).select(
        (did + 1000).alias("media_id"), F.lit("image").alias("kind"),
        _dh_blob(did.cast("string"), F.lit(True)).alias("content"),
    )
    sc = mm.image_dhash(corp).withColumnRenamed("media_id", "doc_id")
    sb = mm.image_dhash(batch).withColumnRenamed("media_id", "doc_id")
    want = sorted(
        map(tuple, dd.simhash_near_dups_against(sc, sb, max_hamming=4).collect())
    )
    got = sorted(
        map(
            tuple,
            dd.near_dups(batch, "image", max_hamming=4, against=corp).collect(),
        )
    )
    assert got == want and len(got) > 0

    # unknown modality fails loudly
    import pytest

    with pytest.raises(ValueError, match="modality"):
        dd.near_dup_signatures(docs, "hologram")


def test_ivfpq_partitioned_store_prunes_and_matches_inline(spark, tmp_path):
    """Round-9 PQ store: the three-tier probe's scan plans a list_id
    partition filter (directory pruning is real, not aspirational) and
    the served top-k equals the inline ivfpq_rerank_topk path under the
    same seeds/knobs — store-and-serve changes nothing but the layout."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_store")
    ivf_c, pq_c = sim.write_ivfpq_partitioned(emb, path, n_list=8, m=8, n_codes=8)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    probed = sim.probe_ivfpq_partitioned(
        spark, path, ivf_c, pq_c, q, k=10, rerank_mult=4, n_probe=2, m=8
    )
    plan = probed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("list_id" in l for l in part_lines), plan
    inline = sim.ivfpq_rerank_topk(
        emb, q, k=10, rerank_mult=4, n_list=8, n_probe=2, m=8, n_codes=8
    )
    assert [tuple(r) for r in probed.collect()] == [
        tuple(r) for r in inline.collect()
    ]


def test_near_dups_against_rejects_salt(spark):
    """salt_buckets has no cross-side implementation; the facade must
    refuse it loudly on the against route instead of dropping it."""
    import pytest

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="salt_buckets"):
        from skripsi_mapreduce_spark.operators.dedup import near_dups

        near_dups(docs, "text", against=docs, salt_buckets=8)


def test_near_dup_signatures_rejects_stray_lane_kwargs(spark):
    """Round-10 (round-9 ADVICE): a knob passed to a lane it does not
    apply to raises — mirroring the salt_buckets guard — instead of
    silently dropping (text rejects media knobs, media lanes reject
    text-column knobs, image takes none). In-lane knobs still work."""
    import pytest

    from skripsi_mapreduce_spark.operators import dedup as dd

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_segments.*text"):
        dd.near_dup_signatures(docs, "text", n_segments=65)
    with pytest.raises(ValueError, match="text_col.*image"):
        dd.near_dup_signatures(docs, "image", text_col="text")
    with pytest.raises(ValueError, match="every_n.*audio"):
        dd.near_dup_signatures(docs, "audio", every_n=2)
    with pytest.raises(ValueError, match="id_col.*video"):
        dd.near_dup_signatures(docs, "video", id_col="doc_id")
    # in-lane knobs resolve exactly as before
    renamed = docs.selectExpr("doc_id AS k", "text AS body")
    got = sorted(
        map(
            tuple,
            dd.near_dup_signatures(renamed, "text", id_col="k", text_col="body").collect(),
        )
    )
    want = sorted(map(tuple, dd.near_dup_signatures(docs, "text").collect()))
    assert got == want


def test_jaccard_auto_lsh_arm_threads_verify_knobs(spark):
    """Round-10 (round-9 ADVICE): bitmap_max_vocab/verify_max_tokens now
    reach the LSH arm's exact verify too — bitmap_max_vocab=0 must
    change NOTHING about the rows (the knob only routes the verify
    backend / skips the dictionary probe job) on a corpus that routes
    to LSH, and the same holds for minhash_near_dups called directly."""
    from skripsi_mapreduce_spark.operators import dedup as dd

    # saturated tiny vocabulary -> quadratic prefix profile -> LSH arm
    # (100 docs in two identical-content classes: prefix candidates
    # C(80,2)+C(20,2)=3350 > 30*100, so the router picks lsh)
    docs = spark.createDataFrame(
        [
            (i, "alpha beta gamma delta" if i < 80 else "alpha beta gamma")
            for i in range(100)
        ],
        "doc_id long, text string",
    )
    base, prof = dd.jaccard_near_dups_auto(docs, threshold=0.9)
    assert prof["generator"] == "lsh"
    nobm, prof2 = dd.jaccard_near_dups_auto(docs, threshold=0.9, bitmap_max_vocab=0)
    assert prof2["generator"] == "lsh"
    rows_a = sorted(map(tuple, base.collect()))
    rows_b = sorted(map(tuple, nobm.collect()))
    assert rows_a == rows_b and len(rows_a) > 0
    direct_a = sorted(map(tuple, dd.minhash_near_dups(docs, threshold=0.9).collect()))
    direct_b = sorted(
        map(
            tuple,
            dd.minhash_near_dups(
                docs, threshold=0.9, bitmap_max_vocab=0, verify_max_tokens=64
            ).collect(),
        )
    )
    assert direct_a == direct_b == rows_a
