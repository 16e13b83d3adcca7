"""Physical-plan regressions (SURVEY.md §7 M7): pushdown, pruning,
broadcast selection, top-k without global sort, partial aggregation.
These lock in the plan shapes the engine depends on at 100 TB — a change
that silently loses a pushed filter or turns a broadcast into a shuffle
fails here, not in production."""

from __future__ import annotations

import pytest

from skripsi_mapreduce_spark.plans import QUERIES

from .conftest import SF_DIR


def formatted_plan(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q02_filters_push_to_scan(spark):
    p = formatted_plan(spark, "q02_filter")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed, "no PushedFilters line in scan"
    line = pushed[0]
    for expected in ("l_shipdate", "l_discount", "l_quantity"):
        assert expected in line, f"{expected} not pushed: {line}"


def test_q01_column_pruning_reaches_scan(spark):
    p = formatted_plan(spark, "q01_scan_project")
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_shipdate" not in read


def test_q18_topk_is_take_ordered(spark):
    p = formatted_plan(spark, "q18_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p  # no global sort


def test_q07_small_dims_broadcast(spark):
    p = formatted_plan(spark, "q07_tpch_q5")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q03_partial_aggregation(spark):
    p = formatted_plan(spark, "q03_tpch_q1")
    # partial + final pair around the exchange
    assert p.count("HashAggregate") >= 2
    assert "hashpartitioning(l_returnflag" in p


def test_q12_cross_join_is_broadcast_nested_loop(spark):
    p = formatted_plan(spark, "q12_cross_join")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_q09_semi_and_q10_anti_join_types(spark):
    p9 = formatted_plan(spark, "q09_semi_join")
    p10 = formatted_plan(spark, "q10_anti_join")
    assert "LeftSemi" in p9
    assert "LeftAnti" in p10


def test_tfidf_idf_join_is_broadcast(spark):
    p = formatted_plan(spark, "tfidf_longform")
    assert "BroadcastHashJoin" in p


def test_dedup_simhash_blocked_no_nested_loop(spark):
    """Pigeonhole blocking: candidates come from an equi-join on
    (slice_idx, slice_value) — all-pairs nested loops are banned from
    this plan (they were the round-1 scale-killer)."""
    p = formatted_plan(spark, "dedup_simhash")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_dedup_embedding_bucketed_no_nested_loop(spark):
    """Hyperplane-bucketed near-dup: the pair join is an equi hash join
    on the probed bucket, never a nested loop."""
    p = formatted_plan(spark, "dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q34_ntile_no_single_partition_exchange(spark):
    """Distributed NTILE: no global single-partition window anywhere."""
    p = formatted_plan(spark, "q34_ntile")
    assert "Exchange SinglePartition" not in p


def test_ta_repetition_digest_counts_no_nested_loop(spark):
    p = formatted_plan(spark, "ta_repetition")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # partial + final hash aggregation around both count stages
    assert p.count("HashAggregate") >= 4


def test_ta_unigram_lp_model_is_broadcast(spark):
    p = formatted_plan(spark, "ta_unigram_lp")
    # the vocabulary-sized model joins back via broadcast, never shuffle
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_mix_stratified_is_pure_scan_filter(spark):
    p = formatted_plan(spark, "mix_stratified")
    # the sampling decision is a narrow filter: the only exchange allowed
    # is the final presentation ORDER BY (rangepartitioning) — no hash
    # shuffle, no broadcast, no aggregation anywhere in the plan
    assert "hashpartitioning" not in p and "SinglePartition" not in p
    assert "BroadcastExchange" not in p and "HashAggregate" not in p
    assert "rangepartitioning" in p  # the ORDER BY


def test_ta_passage_removal_digest_joins_only(spark):
    """Exact-substring removal: window doc-frequency and coverage joins
    are digest / (doc_id, pos) equi-joins — no nested loop, and full
    partial aggregation on the digest counts."""
    p = formatted_plan(spark, "ta_passage_removal")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2


def test_q43_latest_snapshot_no_window_sort(spark):
    """CDC compaction: ONE max_by hash aggregate with a map-side partial;
    the ROW_NUMBER window formulation (shuffle + per-key sort) is banned."""
    p = formatted_plan(spark, "q43_latest_snapshot")
    assert "Window" not in p
    assert "partial_max_by" in p or p.count("HashAggregate") >= 2


def test_q44_corr_stats_single_aggregate(spark):
    """Exact moments: one partial+final aggregate pair, no join, no window."""
    p = formatted_plan(spark, "q44_corr_stats")
    assert p.count("HashAggregate") >= 2
    assert "Join" not in p and "Window" not in p


def test_emb_random_projection_is_narrow_scan(spark):
    """The projection is scan-side work: no joins; the only exchange is
    the presentation ORDER BY (plus AQE bookkeeping)."""
    p = formatted_plan(spark, "emb_random_projection")
    assert "Join" not in p and "HashAggregate" not in p
    assert "hashpartitioning" not in p


def test_mix_weighted_topk_is_take_ordered(spark):
    """Weighted sampling: per-task k-row heaps, no global sort."""
    p = formatted_plan(spark, "mix_weighted_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_ta_bm25_topk_broadcast_model_and_take_ordered(spark):
    """BM25: the term model joins via broadcast; final top-k is a heap."""
    p = formatted_plan(spark, "ta_bm25_topk")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_corpus_filter_is_narrow(spark):
    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators.pipeline import corpus_filter

    docs = load_table(spark, SF_DIR, "documents")
    df = corpus_filter(docs, sample_fraction=0.5, min_quality=0.5, languages=["en"], pii=True)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in p, "corpus_filter must stay shuffle-free (streamable)"


def test_pagerank_edge_dims_broadcast_no_cartesian(spark):
    # customer/supplier carry no forced hint (they scale with SF) — at
    # sf0.001 Catalyst still picks broadcast from measured file sizes;
    # the whole plan (edge aggregation + 3 rank iterations) must contain
    # no cartesian/nested-loop join at any stage
    p = formatted_plan(spark, "graph_pagerank")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_cms_counters_partial_aggregation(spark):
    # the d*w counter table must partial-aggregate before its shuffle —
    # at 100 TB the map-side collapse to <=4096 rows per task IS the op
    p = formatted_plan(spark, "sketch_cms_topk")
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_kmv_scans_only_needed_columns(spark):
    p = formatted_plan(spark, "sketch_kmv_distinct")
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "o_orderstatus" in read and "o_custkey" in read
    assert "o_totalprice" not in read and "o_orderdate" not in read


def test_classifier_is_pure_scan_projection(spark):
    # the model-based filter is a narrow expression — no exchange at all
    p = formatted_plan(spark, "ta_quality_classifier")
    body = p.split("== Physical Plan ==")[-1]
    # the only allowed exchange is the final orderBy's range partitioning
    assert "hashpartitioning" not in body, body
    assert "Join" not in body


def test_tfidf_max_features_no_single_partition_window(spark):
    """max_features pruning ranks the vocab with the two-phase distributed
    rank — no global single-partition window in the plan (r3 verdict #7:
    real at a 100M-word open vocabulary), results identical to the global
    window it replaced (pinned in test_cli_api by the tie-break cases)."""
    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators.tfidf import tfidf_long

    docs = load_table(spark, SF_DIR, "documents")
    df = tfidf_long(docs, max_features=10)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange SinglePartition" not in p


def test_kmeans_ml_vocab_index_no_single_partition_window(spark):
    """The MLlib-path vocabulary index is a two-phase distributed rank,
    not a global row_number window (r3 verdict #7)."""
    from skripsi_mapreduce_spark.operators.etl import assign_sequential_ids
    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators.tfidf import tokens_long

    words = tokens_long(load_table(spark, SF_DIR, "documents")).select("word").distinct()
    vocab, dim = assign_sequential_ids(words, ["word"], id_col="_idx", with_total=True)
    p = vocab._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange SinglePartition" not in p
    # contiguity contract kmeans_ml depends on: ids are exactly 1..V
    ids = sorted(r["_idx"] for r in vocab.collect())
    assert ids == list(range(1, dim + 1))


def test_dedup_bitmap_dictionary_no_single_partition(spark):
    """The shingle-bitmap dictionary rank is the two-phase distributed
    rank — the capped single-partition window it replaced is gone from
    both bitmap-kernel consumers (round 4)."""
    for name in ("dedup_minhash", "dedup_ngram_jaccard"):
        assert "Exchange SinglePartition" not in formatted_plan(spark, name), name


@pytest.mark.parametrize(
    "kernel, exchanges, aggregates",
    [("minhash_dup_edges", 2, 0), ("minhash_near_dups_against", 12, 8)],
)
def test_minhash_kernel_plan_shape(spark, kernel, exchanges, aggregates):
    """Plan-shape budget for the two near-dedup kernels the benchmark
    runs: an aggregation compiled twice for differently-pruned consumers
    (each side's signature aggregation once had two) shows up here as
    extra Exchange and HashAggregate nodes. The formatted plan names each
    node twice (tree and details). minhash_near_dups_against's plan
    starts at the two shingle checkpoints: one signature aggregation per
    side, the corpus collapse on the bitmap (the only HashAggregate pair
    besides the verdict max), the band join and the verdict max."""
    import re

    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators import dedup as dd

    docs = load_table(spark, SF_DIR, "documents")
    if kernel == "minhash_dup_edges":
        df = dd.minhash_dup_edges(docs)
    else:
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        df = dd.minhash_near_dups_against(corpus, batch)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"\bExchange\b", plan)) == exchanges
    assert len(re.findall(r"HashAggregate", plan)) == aggregates


@pytest.mark.parametrize(
    "kernel, jobs",
    [("kmeans_fixedpoint", 23), ("kmeans_fixedpoint_ivf", 11), ("assign_with_model", 2)],
)
def test_fixedpoint_kernel_job_count(spark, kernel, jobs):
    """Job-count budget for the fixed-point K-Means kernels. They take
    eager checkpoints and driver collects while they build, so a plan
    dump does not show their jobs: a statusTracker job group counts the
    jobs of the call plus one count() of its result — the summary on
    TF-IDF e4 weights (pivot kernel on collected centroids), the fused
    IVF kernel, and a batch through a fused model."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.functions.numeric import e_int
    from skripsi_mapreduce_spark.operators import kmeans as km
    from skripsi_mapreduce_spark.plans.extensions import _tfidf_weight_e4

    if kernel == "kmeans_fixedpoint":
        w = _tfidf_weight_e4(spark, SF_DIR)

        def call():
            return km.kmeans_fixedpoint(w, k=5, n_assign_passes=2, weight_col="weight_e4")

    else:
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        dense = emb.select(
            F.col("vec_id").cast("long").alias("doc_id"), F.col("embedding").alias("vec")
        )
        corpus = dense.filter(F.col("doc_id") % 5 != 0)
        w = corpus.select("doc_id", F.posexplode("vec").alias("word", "x")).select(
            "doc_id", "word", e_int(F.col("x").cast("double"), 4).alias("x_e4")
        )
        if kernel == "kmeans_fixedpoint_ivf":

            def call():
                return km.kmeans_fixedpoint_ivf(w, k=10, weight_col="x_e4", dense=corpus)

        else:
            _, model = km.kmeans_fixedpoint_ivf_model(w, 10, weight_col="x_e4", dense=corpus)
            assert model["kind"] == "fused"

            def call():
                return km.assign_with_model(dense.filter(F.col("doc_id") % 5 == 0), model)

    sc = spark.sparkContext
    group = f"fixedpoint-job-count-{kernel}"
    sc.setJobGroup(group, "fixed-point job-count gate")
    try:
        call().count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


@pytest.mark.parametrize("ids, jobs", [("dense", 15), ("sparse", 20)])
def test_kmeans_job_count(spark, ids, jobs):
    """Job-count budget for the thesis kmeans() (k=5, 5 iterations of two
    jobs each) plus one count() of its assignments, on TF-IDF features
    whose ids are dense 1..N and on a sparse subset, whose seed pick ranks
    the ids. The seeds are read off the checkpointed vectors without a
    broadcast join, and the rank crosses one exchange."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators.kmeans import kmeans
    from skripsi_mapreduce_spark.operators.tfidf import tfidf_long

    feats = tfidf_long(load_table(spark, SF_DIR, "documents")).withColumn(
        "doc_id", F.col("doc_id") + 1
    )
    if ids == "sparse":
        feats = feats.filter(F.col("doc_id") % 3 != 0)
    feats = feats.localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = f"kmeans-job-count-{ids}"
    sc.setJobGroup(group, "kmeans job-count gate")
    try:
        res = kmeans(spark, feats, k=5, max_iter=6, seed=42)
        res.assignments.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.iterations == 5
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


def test_incremental_kernel_job_count(spark):
    """Job-count budget for one minhash_near_dups_against call (the
    per-batch call the ingest benchmark repeats): the dictionary collect,
    the lazy checkpoints and the final plan's AQE stages, counted through
    a statusTracker job group around the call plus collect(). One
    signature aggregation per side, without the fingerprint cascade,
    brought it from 21 to 13 jobs."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.io import load_table
    from skripsi_mapreduce_spark.operators import dedup as dd

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    sc = spark.sparkContext
    group = "incremental-job-count"
    sc.setJobGroup(group, "incremental dedup job-count gate")
    try:
        rows = dd.minhash_near_dups_against(corpus, batch).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 13


def test_wide_expression_build_round_trips(spark, monkeypatch):
    """Plan building of the bitmap kernels must not cost py4j round trips
    per bitmap word: the fused signature table and the bitmap Jaccard are
    built at n_words = 8 and 64 after one warm-up, counting the driver
    thread's ClientServerConnection.send_command calls. Per-word Column
    calls (about five round trips each with PySpark 4's call-site
    capture) cost 3,080 / 1,400 more at 64 words here; one SQL string per
    wide expression costs nothing more."""
    import threading

    from py4j.clientserver import ClientServerConnection

    from skripsi_mapreduce_spark.io import local_df
    from skripsi_mapreduce_spark.operators import dedup as dd

    sh = spark.createDataFrame([(1, "a"), (1, "b"), (2, "b")], "doc_id long, shingle string")
    d = local_df(spark, [("a", 0), ("b", 1)], "shingle string, sid int")
    pairs = spark.createDataFrame(
        [(1, 2, [1] * 64, [3] * 64, 2, 2)],
        "id_a long, id_b long, ba array<bigint>, bb array<bigint>, na long, nb long",
    )
    me = threading.get_ident()
    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            calls.append(1)
        return send(self, command)

    def round_trips(build):
        calls.clear()
        build()
        return len(calls)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    builds = {
        "fused": lambda w: dd._fused_sig_table(sh, d, w, 16, 4),
        "jaccard": lambda w: dd._bitmap_jaccard(pairs, w),
    }
    for build in builds.values():
        build(8)  # warm-up
    growth = {k: round_trips(lambda: b(64)) - round_trips(lambda: b(8)) for k, b in builds.items()}
    assert round_trips(lambda: builds["fused"](8)) > 0, "round trips not counted"
    assert growth["fused"] < 4 * 56 and growth["jaccard"] < 56, growth


def test_bloom_probe_is_broadcast_join(spark):
    """The Bloom bit table (≤ m rows) must reach the probe side as a
    broadcast — a shuffled probe would defeat the sketch's purpose as a
    pre-shuffle filter."""
    p = formatted_plan(spark, "sketch_bloom")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_mix_temperature_no_single_partition_exchange(spark):
    """The 1-row normalizer joins back via broadcast; the weight table
    must not collapse to one partition (no global window)."""
    p = formatted_plan(spark, "mix_temperature")
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_cdc_scd2_single_shuffle_by_key(spark):
    """SCD2 is one window pass over a key-partitioned exchange — no
    self-join, no extra shuffles beyond the key partitioning."""
    p = formatted_plan(spark, "cdc_scd2")
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 2  # window key + none extra
    assert "Window" in p


def test_q51_fuzzy_match_expansion_joins_are_equi(spark):
    """The expansion must stay a pair of EQUI joins on (name, brand)
    keys — a lost join key here silently degrades to a nested loop
    over all id pairs. np_pairs carries no forced broadcast hint since
    round 11 (it derives from the SF-scaling part table, bounded only
    by this generator's name vocabulary — AQE broadcasts it at runtime
    when the measured size is small), so the static plan may show
    sort-merge; the invariant is the join TYPE, not the strategy."""
    p = formatted_plan(spark, "q51_fuzzy_match")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_mix_negatives_no_single_partition_exchange(spark):
    """The rank table comes from the two-phase range-partitioned rank:
    no global window, no Exchange SinglePartition anywhere."""
    p = formatted_plan(spark, "mix_negatives")
    assert "Exchange SinglePartition" not in p


def test_q52_cube_is_one_expand_scan(spark):
    """CUBE must compute all four grouping levels from ONE lineitem scan
    via Expand — never a union of per-level aggregates re-reading the
    table."""
    p = formatted_plan(spark, "q52_cube")
    assert "Expand" in p
    scans = [l for l in p.splitlines() if l.startswith("(") and "Scan parquet" in l]
    assert len(scans) == 1, scans
    assert "Union" not in p


def test_pq_rerank_shortlist_join_is_broadcast(spark):
    """The exact re-rank pass must join the rerank_mult*k shortlist by
    BROADCAST (a k-row sliver against the corpus scan) — never a
    shuffle of the corpus or a nested loop."""
    p = formatted_plan(spark, "sim_topk_pq_rerank")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ivfpq_rerank_shortlist_join_is_broadcast(spark):
    p = formatted_plan(spark, "sim_topk_ivfpq_rerank")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q49_closure_has_no_per_level_recursion(spark):
    """The bounded closure executes as ONE lazy doubling plan: no
    recursive-CTE loop nodes (which materialize one job per level), no
    nested loop, no Python in the plan."""
    p = formatted_plan(spark, "q49_recursive_cte")
    assert "UnionLoop" not in p and "Recursive" not in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "PythonUDF" not in p


def test_q53_zorder_is_pure_expression_single_agg(spark):
    """Z-order keys are shift/mask column expressions: no UDF, no join,
    and exactly one aggregation exchange (the zprefix group-by) plus the
    output sort."""
    p = formatted_plan(spark, "q53_zorder_layout")
    assert "PythonUDF" not in p and "BatchEvalPython" not in p
    assert "Join" not in p
    # partial HashAggregate -> ONE hash exchange -> final -> output sort
    assert p.count("hashpartitioning") == 1, p.count("hashpartitioning")
    assert p.count("HashAggregate") >= 2  # map-side partials present


def test_fused_ivf_assignment_is_shuffle_free(spark):
    """The fused hierarchical-assignment kernel's contract is that one
    WHOLE assignment pass is a single mapInPandas over the dense
    vectors — no Exchange of any kind (the join form pays a word-join
    hash aggregate plus a per-doc window per pass). A shuffle appearing
    here means the kernel regressed into the join tiers silently."""
    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.operators.kmeans import _assign_fused_numpy

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dense = emb.select(
        F.col("vec_id").cast("long").alias("doc_id"), F.col("embedding").alias("vec")
    )
    g_rows = [{"m": 0, "word": 0, "gw": 5}, {"m": 1, "word": 1, "gw": -3}]
    cent_rows = [
        {"cluster": 0, "word": 0, "cw": 4},
        {"cluster": 1, "word": 1, "cw": -2},
        {"cluster": 2, "word": 2, "cw": 7},
    ]
    cmap_rows = [{"cluster": 0, "m": 0}, {"cluster": 1, "m": 1}, {"cluster": 2, "m": 0}]
    out = _assign_fused_numpy(dense, g_rows, cent_rows, cmap_rows, n_probe=2)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan
    assert out.count() == emb.count()  # and it actually runs


def test_dedup_semantic_keep_no_nested_loop(spark):
    """The SemDeDup verdict entry's pair generation must stay an
    equi-join on cluster id (never a nested loop / cartesian), and the
    election an anti-ish left join — the shapes that keep within-cluster
    work bounded by cluster size at any corpus."""
    p = formatted_plan(spark, "dedup_semantic_keep")
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p, p


def test_no_forced_broadcast_of_sf_scaling_tables():
    """Repo-wide broadcast-hint policy (relational.py:22): an explicit
    ``F.broadcast`` hint is only legal on tables whose size is bounded
    regardless of SF (nation: 25 rows, region: 5 rows) or on derived
    aggregates/shortlists the plan itself bounds. A forced hint on an
    SF-scaling base table (customer = 150k x SF rows, ...) bypasses
    Spark's size threshold and OOMs the driver at 100x — the exact
    pattern the r9/r10 verdicts removed from bm25_update_model,
    graph_pagerank and stream_enrich. This test walks the AST of every
    module in the package: any name bound (directly or through narrow
    method chains, taint-propagated to a fixpoint across intermediate
    assignments) to ``load_table(..., "<sf-scaling table>")`` must
    never appear as the argument of ``F.broadcast(...)`` in the same
    function, nor may a load_table call of such a table be broadcast
    inline. Chains through groupBy/agg/count/limit clear the taint —
    the policy's "derived aggregates the plan itself bounds" exception;
    this is deliberately permissive (a corpus-keyed groupBy is NOT
    bounded, but distinguishing key cardinality statically is not
    possible), so aggregate broadcasts stay a review concern while the
    raw-dimension pattern is mechanically banned."""
    import ast
    from pathlib import Path

    import skripsi_mapreduce_spark as pkg

    SF_SCALING = {
        "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings",
    }

    def load_table_arg(node):
        """Return the table-name literal if `node` contains a
        load_table("...") call (possibly under a .select/.filter chain)."""
        for sub in ast.walk(node):
            if (
                isinstance(sub, ast.Call)
                and (
                    (isinstance(sub.func, ast.Name) and sub.func.id == "load_table")
                    or (
                        isinstance(sub.func, ast.Attribute)
                        and sub.func.attr == "load_table"
                    )
                )
                and sub.args
            ):
                last = sub.args[-1]
                if isinstance(last, ast.Constant) and isinstance(last.value, str):
                    return last.value
        return None

    def is_broadcast_call(call):
        f = call.func
        return (isinstance(f, ast.Attribute) and f.attr == "broadcast") or (
            isinstance(f, ast.Name) and f.id == "broadcast"
        )

    # a chain through any of these produces a bounded DERIVED table
    # (aggregate/limit), which the policy explicitly allows to broadcast
    BOUNDING = {"groupBy", "agg", "count", "limit", "summary"}

    def is_bounded(node):
        return any(
            isinstance(sub, ast.Call)
            and isinstance(sub.func, ast.Attribute)
            and sub.func.attr in BOUNDING
            for sub in ast.walk(node)
        )

    violations = []
    for py in sorted(Path(pkg.__path__[0]).rglob("*.py")):
        tree = ast.parse(py.read_text())
        for fn in [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]:
            # taint pass: a name is tainted if its assigned expression
            # contains load_table of an SF-scaling table OR another
            # tainted name (narrow ops like select/filter/withColumn
            # keep the taint; an aggregating chain clears it). Iterate
            # to a fixpoint so multi-hop `c2 = c.select(...)` chains
            # are caught, in whatever statement order they appear.
            assigns = [n for n in ast.walk(fn) if isinstance(n, ast.Assign)]
            tainted = {}  # name -> origin table
            changed = True
            while changed:
                changed = False
                for node in assigns:
                    if is_bounded(node.value):
                        continue
                    t = load_table_arg(node.value)
                    if t not in SF_SCALING:
                        t = next(
                            (
                                tainted[sub.id]
                                for sub in ast.walk(node.value)
                                if isinstance(sub, ast.Name) and sub.id in tainted
                            ),
                            None,
                        )
                    if t is not None:
                        for tgt in node.targets:
                            if isinstance(tgt, ast.Name) and tgt.id not in tainted:
                                tainted[tgt.id] = t
                                changed = True
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) and is_broadcast_call(node) and node.args:
                    arg = node.args[0]
                    if is_bounded(arg):
                        continue  # bounded derived aggregate — allowed
                    # inline: F.broadcast(load_table(..., "customer")...)
                    t = load_table_arg(arg)
                    if t in SF_SCALING:
                        violations.append(f"{py.name}:{node.lineno} inline {t}")
                    # via name: F.broadcast(cust) / F.broadcast(cust.select(...))
                    for sub in ast.walk(arg):
                        if isinstance(sub, ast.Name) and sub.id in tainted:
                            violations.append(
                                f"{py.name}:{node.lineno} {sub.id}<-{tainted[sub.id]}"
                            )
    assert not violations, f"forced broadcast of SF-scaling tables: {violations}"
