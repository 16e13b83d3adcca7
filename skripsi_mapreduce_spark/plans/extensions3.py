r"""Round-4+ extension surface: batched multi-query retrieval, the IVF-PQ
composition, a SQL-replayable Bloom filter, temperature-scaled domain
mixing, and three more Structured-Streaming adjudications (interval
join, sliding window, streaming dedup) — each hash-matched against a
DuckDB oracle stating the same arithmetic. Later rounds accrete here:
round 5-7 retrieval/recall entries, and round 8's trainable quality
classifier, PMI collocations, adjudicated PII scrub, streaming top-k
serving, cluster topic keywords, and incremental IVF maintenance.

Shares every cross-engine convention with plans/extensions.py /
extensions2.py: md5 integer draws for randomness, e8 fixed-point dot
products, scaled-BIGINT hash surfaces, microsecond-exact event-time
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import e_int
from ..io import load_table
from .relational import ORACLE, QUERIES, query  # noqa: F401

_E8 = "100000000.0"  # e8 fixed-point scale as a double literal


# ---------------------------------------------------------------------------
# Batched multi-query exact top-k — one corpus scan answers every query
# ---------------------------------------------------------------------------
_MANY_NQ, _MANY_K = 4, 10


@query(
    "sim_topk_many",
    f"""
    WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings),
    qx AS (SELECT vec_id AS qid, x AS qv, i FROM ex WHERE vec_id < {_MANY_NQ}),
    dots AS (SELECT q.qid, e.vec_id,
                    SUM(CAST(ROUND(e.x * q.qv * {_E8}) AS BIGINT)) AS dot
             FROM ex e JOIN qx q USING (i) GROUP BY 1, 2),
    nrms AS (SELECT vec_id,
                    SQRT(CAST(SUM(CAST(ROUND(x * x * {_E8}) AS BIGINT)) AS DOUBLE) / {_E8}) AS nrm
             FROM ex GROUP BY vec_id),
    scored AS (SELECT d.qid, d.vec_id,
                      CAST(ROUND(ROUND((CAST(d.dot AS DOUBLE) / {_E8}) / (n.nrm * qn.nrm), 6)
                                 * 1000000) AS BIGINT) AS score_e6
               FROM dots d JOIN nrms n USING (vec_id)
               JOIN nrms qn ON qn.vec_id = d.qid),
    r AS (SELECT qid, vec_id, score_e6,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_e6 DESC, vec_id) AS rn
          FROM scored)
    SELECT CAST(qid AS BIGINT) AS query_id, vec_id, score_e6
    FROM r WHERE rn <= {_MANY_K} ORDER BY query_id, score_e6 DESC, vec_id
    """,
)
def sim_topk_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact retrieval: top-10 cosine neighbours for FOUR query
    vectors in ONE corpus scan (operators/similarity.topk_cosine_many) —
    the N-queries × M-vectors shape real retrieval workloads have. The
    kernel keeps a local top-k per query inside each Arrow batch (the
    map-side combine for top-k), so the shuffle carries ≤ partitions ×
    queries × k narrow rows; scores are the same e8 fixed-point / e6
    rounding as sim_topk_cosine, pinned bit-identical by test."""
    from ..operators import similarity as sim_mod

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") < _MANY_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sim_mod.topk_cosine_many(emb, qdf, k=_MANY_K)
    return out.select(
        "query_id", "vec_id", e_int(F.col("score"), 6).alias("score_e6")
    ).orderBy("query_id", F.col("score_e6").desc(), "vec_id")


# ---------------------------------------------------------------------------
# Batched IVF retrieval — one pruned scan answers every query
# ---------------------------------------------------------------------------
def _register_many_ivf() -> None:
    from .extensions2 import _ivf_sql

    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({qid} AS BIGINT) AS query_id, a.vec_id, a.score_e6\n"
        f"FROM ({_ivf_sql(4, _MANY_K, qid)}) a"
        for qid in range(_MANY_NQ)
    )
    sql = f"SELECT * FROM ({arms}) u ORDER BY query_id, score_e6 DESC, vec_id"

    @query("sim_topk_many_ivf", sql)
    def sim_topk_many_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Batched IVF retrieval (operators/similarity.ivf_topk_cosine_many):
        four queries, ONE pruned pass — per query the 4 nearest of 16
        lists are picked driver-side, the (query, list) probe table
        broadcasts, and a single scan of the indexed corpus feeds exact
        per-query fixed-point re-ranks (scores bit-identical to the
        per-query sim_topk_ivf path, pinned by test). The oracle runs
        the adjudicated single-query IVF chain once per query id and
        unions the arms, so batching is proven to change NOTHING but
        the pass count. At 100 TB: the corpus is read once instead of
        n_queries times, only lists some query probes are touched
        (partition pruning on a write_ivf_partitioned store), and the
        lone shuffle is the per-query top-k window over Σ_q
        (n_probe/n_list)·n candidate rows."""
        from ..operators import similarity as sim_mod

        emb = load_table(spark, sf_dir, "embeddings")
        qdf = emb.filter(F.col("vec_id") < _MANY_NQ).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        out = sim_mod.ivf_topk_cosine_many(emb, qdf, k=_MANY_K, n_list=16, n_probe=4)
        return out.select(
            "query_id", "vec_id", e_int(F.col("score"), 6).alias("score_e6")
        ).orderBy("query_id", F.col("score_e6").desc(), "vec_id")


_register_many_ivf()


# ---------------------------------------------------------------------------
# IVF-PQ — coarse-pruned ADC ranking over probe-independent PQ codes
# ---------------------------------------------------------------------------
_IP_NLIST, _IP_NPROBE, _IP_M, _IP_CODES, _IP_K = 16, 4, 8, 16, 10


def _ivfpq_adc_sql(
    k: int,
    n_probe: int = _IP_NPROBE,
    n_codes: int = _IP_CODES,
    m: int = _IP_M,
    n_list: int = _IP_NLIST,
    qid: int = 0,
) -> str:
    """The hash-matched IVF-PQ ADC chain with EVERY engine knob
    parameterized — shortlist size, probe budget, PQ codebook size,
    subspace count m, and IVF list count — so a caller passing a
    different m or n_list to the engine cannot silently diverge from
    the oracle. Seed table spans max(n_list, n_codes) md5-min rows; IVF
    centroids are sid < n_list, the PQ codebook sid < n_codes — exactly
    operators/similarity.ivfpq_topk's seeding."""
    if 64 % m:
        raise ValueError(f"64-dim embeddings not divisible by m={m}")
    d_sub = 64 // m
    return f"""
    WITH seeds AS (
        SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                            AS INT) AS sid
        FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {max(n_list, n_codes)}),
    cx AS (SELECT s.sid AS lid, generate_subscripts(e.embedding, 1) AS i,
                  CAST(unnest(e.embedding) AS DOUBLE) AS c
           FROM embeddings e JOIN seeds s USING (vec_id) WHERE s.sid < {n_list}),
    c2 AS (SELECT lid, SUM(CAST(ROUND(c * c * {_E8}) AS BIGINT)) AS c2 FROM cx GROUP BY lid),
    ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    dots AS (SELECT e.vec_id, c.lid, SUM(CAST(ROUND(e.x * c.c * {_E8}) AS BIGINT)) AS dot
             FROM ex e JOIN cx c USING (i) GROUP BY 1, 2),
    assign AS (SELECT vec_id, lid FROM (
        SELECT d.vec_id, d.lid,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY c2.c2 - 2 * d.dot, d.lid) AS rn
        FROM dots d JOIN c2 USING (lid)) t WHERE rn = 1),
    probes AS (SELECT lid FROM (
        SELECT q.lid, ROW_NUMBER() OVER (ORDER BY c2.c2 - 2 * q.dot, q.lid) AS rn
        FROM (SELECT lid, dot FROM dots WHERE vec_id = {qid}) q JOIN c2 USING (lid)) t
        WHERE rn <= {n_probe}),
    cand AS (SELECT a.vec_id FROM assign a JOIN probes p USING (lid)),
    pcx AS (SELECT s.sid AS c, (generate_subscripts(e.embedding, 1) - 1) // ({d_sub}) AS sub,
                   generate_subscripts(e.embedding, 1) AS i,
                   CAST(unnest(e.embedding) AS DOUBLE) AS cv
            FROM embeddings e JOIN seeds s USING (vec_id) WHERE s.sid < {n_codes}),
    pc2 AS (SELECT c, sub, SUM(CAST(ROUND(cv * cv * {_E8}) AS BIGINT)) AS c2
            FROM pcx GROUP BY 1, 2),
    cex AS (SELECT e.vec_id, e.x, e.i, (e.i - 1) // ({d_sub}) AS sub
            FROM ex e JOIN cand USING (vec_id)),
    pdots AS (SELECT e.vec_id, p.c, e.sub,
                     SUM(CAST(ROUND(e.x * p.cv * {_E8}) AS BIGINT)) AS dot
              FROM cex e JOIN pcx p ON p.i = e.i GROUP BY 1, 2, 3),
    codes AS (SELECT vec_id, sub, c FROM (
        SELECT d.vec_id, d.sub, d.c,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.sub
                                  ORDER BY p2.c2 - 2 * d.dot, d.c) AS rn
        FROM pdots d JOIN pc2 p2 ON p2.c = d.c AND p2.sub = d.sub) t WHERE rn = 1),
    qx AS (SELECT (generate_subscripts(embedding, 1) - 1) // ({d_sub}) AS sub,
                  generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS q
           FROM embeddings WHERE vec_id = {qid}),
    q2 AS (SELECT sub, SUM(CAST(ROUND(q * q * {_E8}) AS BIGINT)) AS q2 FROM qx GROUP BY 1),
    qdots AS (SELECT p.c, p.sub, SUM(CAST(ROUND(q.q * p.cv * {_E8}) AS BIGINT)) AS qdot
              FROM qx q JOIN pcx p ON p.i = q.i GROUP BY 1, 2),
    adc AS (SELECT qd.c, qd.sub, q2.q2 + p2.c2 - 2 * qd.qdot AS cell
            FROM qdots qd JOIN q2 USING (sub) JOIN pc2 p2 ON p2.c = qd.c AND p2.sub = qd.sub),
    scores AS (SELECT k.vec_id, SUM(a.cell) AS adc_e8
               FROM codes k JOIN adc a ON a.sub = k.sub AND a.c = k.c GROUP BY 1)
    SELECT vec_id, CAST(adc_e8 AS BIGINT) AS adc_e8
    FROM scores ORDER BY adc_e8, vec_id LIMIT {k}
    """


@query("sim_topk_ivfpq", _ivfpq_adc_sql(_IP_K))
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, the production ANN composition, hash-matched END TO END:
    the fixed-point coarse quantizer prunes to 4 of 16 inverted lists
    (partition pruning against a write_ivf_partitioned store), then ADC
    over probe-independent PQ codes (m=8 × 16-code codebook trained on
    the FULL corpus — write-time encoding) ranks the survivors. Every
    number along the way (assignment keys, probe picks, code argmins,
    ADC cells) is an e8 int64, so DuckDB replays the lists, the codes,
    and the final ranking bit-for-bit
    (operators/similarity.ivfpq_topk)."""
    from ..operators import similarity as sim_mod

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return sim_mod.ivfpq_topk(
        emb, qvec, k=_IP_K, n_list=_IP_NLIST, n_probe=_IP_NPROBE,
        m=_IP_M, n_codes=_IP_CODES,
    )


# ---------------------------------------------------------------------------
# IVF-PQ → exact re-rank: all three ANN tiers composed (round 5)
# ---------------------------------------------------------------------------
_IPR_NPROBE, _IPR_CODES, _IPR_MULT = 12, 32, 16  # calibrated, SCALING.md


def _ivfpq_rerank_arm_sql(qid: int = 0) -> str:
    """One query's full IVF→ADC-shortlist→exact-re-rank chain, with the
    query id parameterized — the single-query adjudicated artifact
    (sim_topk_ivfpq_rerank uses qid=0) and the per-arm building block of
    the batched oracle (sim_topk_many_ivfpq_rerank unions one arm per
    query id, proving batching changes nothing but the pass count)."""
    return f"""
    WITH cand AS (SELECT vec_id
                  FROM ({_ivfpq_adc_sql(_IPR_MULT * _IP_K, _IPR_NPROBE, _IPR_CODES, qid=qid)}) s),
    ex2 AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}),
    qx AS (SELECT CAST(unnest(qv) AS DOUBLE) AS qxv, generate_subscripts(qv, 1) AS i FROM q),
    cex AS (SELECT e.vec_id, e.x, e.i FROM ex2 e JOIN cand c ON c.vec_id = e.vec_id),
    qdots AS (SELECT vec_id, SUM(CAST(ROUND(x * qxv * 100000000.0) AS BIGINT)) AS dot
              FROM cex JOIN qx USING (i) GROUP BY vec_id),
    nrms AS (SELECT vec_id,
                    SQRT(CAST(SUM(CAST(ROUND(x * x * 100000000.0) AS BIGINT)) AS DOUBLE) / 100000000.0) AS nrm
             FROM cex GROUP BY vec_id),
    qn AS (SELECT SQRT(CAST(SUM(CAST(ROUND(qxv * qxv * 100000000.0) AS BIGINT)) AS DOUBLE) / 100000000.0) AS qnrm
           FROM qx)
    SELECT d.vec_id,
           CAST(ROUND(ROUND((CAST(d.dot AS DOUBLE) / 100000000.0) / (n.nrm * qn.qnrm), 6) * 1000000)
                AS BIGINT) AS score_e6
    FROM qdots d JOIN nrms n USING (vec_id) CROSS JOIN qn
    ORDER BY score_e6 DESC, vec_id LIMIT {_IP_K}
    """


@query("sim_topk_ivfpq_rerank", _ivfpq_rerank_arm_sql(0))
def sim_topk_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN composition, all three tiers adjudicated
    in one artifact (operators/similarity.ivfpq_rerank_topk): IVF prunes
    to 12 of 16 lists (the auto_n_probe budget from the measured recall
    curve), ADC over a 32-code PQ codebook keeps a 16k shortlist (m int
    lookups per scanned row), and the exact e8 cosine kernel re-scores
    only those 160 rows — measured recall@10 0.90 at sf0.01 vs 0.60 for
    the 16-code ADC-only tier (containment matrix in SCALING.md),
    precision 1.0 (scores identical to sim_topk_cosine's kernel). The
    oracle composes the parameterized IVF-PQ chain with the exact-score
    chain verbatim, so lists, codes, shortlist, and final ranking are
    hash-matched end to end. At 100 TB: scan cost = (12/16) · m bytes
    per row here because the synthetic corpus is unstructured (recall
    tracks n_probe/n_list); clustered real corpora reach the target at
    far lower budgets, and the re-rank sliver stays independent of
    corpus size."""
    from ..operators import similarity as sim_mod
    from ..functions.numeric import e_int

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    out = sim_mod.ivfpq_rerank_topk(
        emb, qvec, k=_IP_K, rerank_mult=_IPR_MULT, n_list=_IP_NLIST,
        n_probe=_IPR_NPROBE, m=_IP_M, n_codes=_IPR_CODES,
    )
    return out.select("vec_id", e_int(F.col("score"), 6).alias("score_e6"))


# ---------------------------------------------------------------------------
# Batched IVF-PQ → exact re-rank: the FULL ANN stack, one pass per tier
# for every query (round 6 — completes the batching ladder)
# ---------------------------------------------------------------------------
def _register_many_ivfpq_rerank() -> None:
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({qid} AS BIGINT) AS query_id, a.vec_id, a.score_e6\n"
        f"FROM ({_ivfpq_rerank_arm_sql(qid)}) a"
        for qid in range(_MANY_NQ)
    )
    sql = f"SELECT * FROM ({arms}) u ORDER BY query_id, score_e6 DESC, vec_id"

    @query("sim_topk_many_ivfpq_rerank", sql)
    def sim_topk_many_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Batched production ANN (operators/similarity.
        ivfpq_rerank_topk_many): four queries through IVF prune → PQ-ADC
        shortlist → exact re-rank with ONE pass per tier. The IVF index
        and PQ codes are query-independent write-time artifacts built
        once; each query's probe picks and flattened m×n_codes ADC
        table broadcast alongside, so a single scan of the encoded
        corpus ADC-scores every (query, candidate) as m integer
        lookups; the per-query 16k shortlists union into one exact
        fixed-point re-rank join (Σ_q 160 rows). Scores BIT-IDENTICAL
        to sim_topk_ivfpq_rerank run per query — the oracle unions the
        single-query chain once per query id, proving batching changes
        nothing but the pass count. At 100 TB: code columns are read
        once for all queries, only probed lists are touched (partition
        pruning on a write_ivf_partitioned store), and every shuffle
        carries candidate/shortlist rows, never n_queries × corpus."""
        from ..operators import similarity as sim_mod

        emb = load_table(spark, sf_dir, "embeddings")
        qdf = emb.filter(F.col("vec_id") < _MANY_NQ).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        out = sim_mod.ivfpq_rerank_topk_many(
            emb, qdf, k=_IP_K, rerank_mult=_IPR_MULT, n_list=_IP_NLIST,
            n_probe=_IPR_NPROBE, m=_IP_M, n_codes=_IPR_CODES,
        )
        return out.select(
            "query_id", "vec_id", e_int(F.col("score"), 6).alias("score_e6")
        ).orderBy("query_id", F.col("score_e6").desc(), "vec_id")


_register_many_ivfpq_rerank()


# ---------------------------------------------------------------------------
# Bloom filter — SQL-replayable membership sketch (round 4)
# ---------------------------------------------------------------------------
_BLOOM_M, _BLOOM_K = 16384, 4


_BLOOM_POS_SQL = (
    f"CAST('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || ':' || key), 1, 15)"
    f" AS BIGINT) % {_BLOOM_M}"
)


@query(
    "sketch_bloom",
    f"""
    WITH members AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key
                     FROM orders WHERE o_orderstatus = 'F'),
    js(j) AS (VALUES (0), (1), (2), (3)),
    bits AS (SELECT DISTINCT {_BLOOM_POS_SQL} AS pos
             FROM members CROSS JOIN js),
    probes AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key FROM customer),
    pp AS (SELECT key, {_BLOOM_POS_SQL} AS pos
           FROM probes CROSS JOIN js),
    hits AS (SELECT key, MIN(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hit
             FROM pp LEFT JOIN bits b USING (pos) GROUP BY key)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(h.hit) AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN m.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN h.hit = 1 AND m.key IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_pos
    FROM hits h LEFT JOIN members m USING (key)
    """,
)
def sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch, every bit SQL-visible: build a
    16384-bit / 4-hash filter over the customers that have an 'F'-status
    order, probe EVERY customer, and surface (probed, hits, true
    members, false positives) — the join-pruning / contamination
    pre-filter a 100 TB pipeline broadcasts before a shuffle join. The
    md5 position draws make the filter a pure function of the data
    (engine-native Bloom aggregates have private bit layouts), so the
    false-positive count itself is adjudicated
    (operators/sketches.bloom_build/bloom_probe)."""
    from ..operators.sketches import bloom_build, bloom_probe

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    members = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    bits = bloom_build(members, "o_custkey", _BLOOM_M, _BLOOM_K)
    probed = bloom_probe(bits, cust, "c_custkey", _BLOOM_M, _BLOOM_K)
    mem_keys = members.select(
        F.col("o_custkey").cast("string").alias("_k")
    ).distinct().withColumn("_is_m", F.lit(1))
    return (
        probed.join(mem_keys, "_k", "left")
        .agg(
            F.count("*").cast("bigint").alias("n_probed"),
            F.sum("hit").cast("bigint").alias("n_hits"),
            F.sum(F.coalesce(F.col("_is_m"), F.lit(0))).cast("bigint").alias("n_members"),
            F.sum(
                F.when((F.col("hit") == 1) & F.col("_is_m").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_false_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixing (α = 1/2)
# ---------------------------------------------------------------------------
_MIX_BUDGET = 100_000


@query(
    "mix_temperature",
    f"""
    WITH counts AS (SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs
                    FROM documents GROUP BY source),
    mass AS (SELECT domain, n_docs,
                    CAST(ROUND(SQRT(CAST(n_docs AS DOUBLE)) * 100000000.0) AS BIGINT) AS mass_e8
             FROM counts),
    total AS (SELECT SUM(mass_e8) AS t FROM mass)
    SELECT domain, n_docs,
           CAST(ROUND((CAST(mass_e8 AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000) AS BIGINT) AS w_e6,
           CAST(ROUND({float(_MIX_BUDGET)} * (CAST(mass_e8 AS DOUBLE) / CAST(t AS DOUBLE)))
                AS BIGINT) AS expect_n
    FROM mass CROSS JOIN total ORDER BY domain
    """,
)
def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing at α = 1/2 (the multilingual-LM
    upsampling scheme: w_d ∝ √n_d normalized) over documents.source,
    with the expected allocation of a 100k-row sample budget. sqrt is
    the one power that is IEEE-correctly-rounded everywhere, so the
    whole weight table hash-matches: integer masses, exact int64
    normalizer, exact-integer→double division on both engines
    (operators/pipeline.temperature_weights)."""
    from ..operators.pipeline import temperature_weights

    docs = load_table(spark, sf_dir, "documents")
    return temperature_weights(docs, "source", _MIX_BUDGET)


# ---------------------------------------------------------------------------
# Structured Streaming, round-4 adjudications: interval join, sliding
# window, streaming dedup — availableNow replay through the REAL
# streaming operators, hash-matched against batch oracle SQL.
# ---------------------------------------------------------------------------
_STREAM3_SEQ = iter(range(1, 1 << 30))
_IJ_WINDOW_S = 1800  # purchase within 30 minutes of a click


@query(
    "stream_interval_join",
    f"""
    SELECT l.event_id AS l_event_id, r.event_id AS r_event_id
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'purchase'
     AND epoch_us(r.ts) >= epoch_us(l.ts)
     AND epoch_us(r.ts) <= epoch_us(l.ts) + {_IJ_WINDOW_S * 1_000_000}
    ORDER BY l_event_id, r_event_id
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join computed by Structured
    Streaming: clicks joined to same-user purchases within [0, 30 min],
    both sides replayed through readStream with 1-hour watermarks (the
    bounded-state formulation — the time-range condition lets the state
    store evict rows once the watermark passes their eligibility
    window), hash-matched against the batch SQL statement of the same
    join (streaming/joins.interval_join)."""
    from ..streaming.joins import interval_join
    from ..streaming.windows import run_to_memory_sink, state_partitions, stream_events

    ev = stream_events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = interval_join(left, right, key="user_id", lo_seconds=0,
                           hi_seconds=_IJ_WINDOW_S)
    pairs = joined.select(
        F.col("event_id").alias("l_event_id"), F.col("r_event_id")
    )
    # a stream-stream join keeps FOUR state stores per partition; size
    # the store count to the replay (measured 8.3s at 32 partitions,
    # 2.6s at 8, 2.1s at 4 — the join keeps 4x stores, so it warrants
    # the smallest scope of the streaming entries)
    with state_partitions(spark, 4):
        out = run_to_memory_sink(
            pairs, f"stream_ij_{next(_STREAM3_SEQ)}", "append"
        )
    return out.orderBy("l_event_id", "r_event_id")


@query("stream_sliding", None)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q42's sliding 1h/30m window computed by Structured Streaming
    (file replay -> watermark -> window groupBy -> memory sink) —
    hash-matched against the SAME DuckDB oracle as the batch entry
    (streaming/windows.sliding_counts), completing the
    tumbling/session/sliding trio of batch=stream parity proofs."""
    from ..streaming.windows import (
        run_to_memory_sink,
        sliding_counts,
        state_partitions,
        stream_events,
    )

    ev = stream_events(spark, sf_dir)
    agg = sliding_counts(ev)
    with state_partitions(spark, 8):
        out = run_to_memory_sink(agg, f"stream_sliding_{next(_STREAM3_SEQ)}", "complete")
    return out.orderBy("win_start_epoch", "event_type")


@query(
    "stream_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication through
    dropDuplicatesWithinWatermark (state evicted as the watermark
    passes — the only dedup formulation that survives an unbounded
    stream): replay events, keep the first arrival per (user_id,
    event_type), surface the kept KEY SET, which is order-independent
    and therefore hash-matchable against batch DISTINCT. The replay
    arrives within one watermark horizon, so the streaming kept-set
    equals exact DISTINCT by the operator's contract
    (streaming/windows.streaming_dedup)."""
    from ..streaming.windows import (
        run_to_memory_sink,
        state_partitions,
        stream_events,
        streaming_dedup,
    )

    ev = stream_events(spark, sf_dir)
    dd = streaming_dedup(ev, ["user_id", "event_type"])
    with state_partitions(spark, 8):
        out = run_to_memory_sink(dd, f"stream_dedup_{next(_STREAM3_SEQ)}", "append")
    return out.select("user_id", "event_type").orderBy("user_id", "event_type")


# the streaming sliding twin shares the batch entry's oracle verbatim
ORACLE["stream_sliding"] = ORACLE["q42_sliding_window"]


# ---------------------------------------------------------------------------
# Connected components, adjudicated: the REAL large-star/small-star
# iteration runs on per-user event chains — a graph whose transitive
# closure the oracle can state in closed form (chain component = the
# user's minimum event id), while the Spark side must actually
# propagate labels across ~log(chain length) contraction rounds.
# ---------------------------------------------------------------------------
@query(
    "graph_components",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS n, MIN(event_id) AS m
               FROM events GROUP BY user_id)
    SELECT e.event_id AS node, c.m AS component
    FROM events e JOIN c USING (user_id)
    WHERE c.n > 1 ORDER BY node
    """,
)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed connected components (Kiveris et al. large-star/
    small-star, operators/components.connected_components) adjudicated
    end to end: the input graph chains each user's events in event-id
    order (~13-node paths — label propagation genuinely takes multiple
    contraction rounds), and the oracle states the closed-form closure
    (every chain's component is the user's minimum event id). Completes
    the graph family's evidence: pagerank was oracle-green in r3, the
    components operator only had local union-find tests until now."""
    from pyspark.sql import Window as W

    from ..operators.components import connected_components

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    w = W.partitionBy("user_id").orderBy("event_id")
    edges = (
        ev.withColumn("prev", F.lag("event_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select("prev", "event_id")
    )
    # lag-chain edges are unique with prev < event_id by construction —
    # the input-sym distinct shuffle is provably redundant (round 12)
    comp = connected_components(edges, "prev", "event_id", assume_distinct_edges=True)
    return comp.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("component").cast("bigint").alias("component"),
    ).orderBy("node")


# ---------------------------------------------------------------------------
# SCD2 history build — the warehouse-side complement of q43/q45
# ---------------------------------------------------------------------------
@query(
    "cdc_scd2",
    """
    SELECT event_id, user_id,
           epoch_us(ts) AS valid_from_us,
           epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS valid_to_us,
           CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                AS BOOLEAN) AS is_current
    FROM events ORDER BY event_id
    """,
)
def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build (operators/cdc.scd2_history): the events
    changelog becomes validity intervals — each version valid from its
    timestamp until the key's next version, NULL/is_current on the open
    one. One shuffle by key, one lead() pass, no self-join; the
    (ts, event_id) tiebreak makes the per-key order total so the
    intervals hash-match."""
    from ..operators.cdc import scd2_history

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = scd2_history(ev, ["user_id"], "ts", tiebreak=["event_id"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Skew-proof JOIN: salted big side x replicated-broadcast small side
# ---------------------------------------------------------------------------
@query(
    "skew_salted_join",
    """
    SELECT s.s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
                      * 10000) AS BIGINT) AS revenue_e4
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_nationkey ORDER BY s.s_nationkey
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key JOIN shape made skew-proof by hand: the fact side is
    salted into 16 buckets and the dimension side replicated ×16 into
    the broadcast (operators/skew.salted_broadcast_left), then the
    aggregation keeps the salt through its partial phase — no single
    (suppkey) hash bucket can dominate a task even when one supplier is
    90% of the rows. Decimal-exact sums make the two-phase result
    bit-equal to the plain join+GROUP BY the oracle states (the same
    guarantee skew_salted_agg pins for aggregation)."""
    from ..operators.skew import salted_broadcast_left

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    j = salted_broadcast_left(li, sup, ["suppkey"], buckets=16)
    partial = j.groupBy("s_nationkey", "_salt").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("l_extendedprice").cast("decimal(20,4)")).alias("_s"),
    )
    return (
        partial.groupBy("s_nationkey")
        .agg(
            F.sum("_n").cast("bigint").alias("n_items"),
            e_int(F.sum("_s")).alias("revenue_e4"),
        )
        .orderBy("s_nationkey")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — the CDC family's third leg
# ---------------------------------------------------------------------------
@query(
    "cdc_incremental_agg",
    """
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) * 10000)
                AS BIGINT) AS sum_value_e4
    FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type
    """,
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/cdc.merge_aggregates):
    a materialized per-(user, event_type) count/sum built from two
    thirds of the events is combined with the aggregate of the
    remaining delta by FULL OUTER join + monoid addition — and must
    equal the from-scratch aggregate the oracle computes over ALL
    events. Exactness comes from decimal partial sums scaled to BIGINT
    before the merge (integer addition commutes across any batch
    split). This is the O(|delta|) maintenance path the CDC family
    (q43 snapshot, q45 MERGE, cdc_scd2 history) feeds at 100 TB."""
    from ..operators.cdc import merge_aggregates

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").cast("bigint").alias("n"),
            e_int(F.sum(F.col("value").cast("decimal(20,4)"))).alias("sum_value_e4"),
        )

    base = agg(ev.filter(F.col("event_id") % 3 != 2))
    delta = agg(ev.filter(F.col("event_id") % 3 == 2))
    out = merge_aggregates(base, delta, ["user_id", "event_type"], "n", ["sum_value_e4"])
    return out.select(
        "user_id",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_value_e4").cast("bigint").alias("sum_value_e4"),
    ).orderBy("user_id", "event_type")


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@10 of the IVF path vs exact top-k —
# the oracle is COMPOSED from the two entries' own oracle strings, so
# the evaluation measures exactly the adjudicated paths.
# ---------------------------------------------------------------------------
_RECALL_K = 10
# Measured (n_probe → recall@10) curve at sf0.01, n_list=16, vec_id=0
# query (tools snippet; raw curve recorded in SCALING.md). auto_n_probe
# reads this calibration and returns 12 — the smallest budget at or
# above the 0.9 target. The 4-probe fast tier (0.70) stays in the
# output for contrast, so the adjudicated artifact shows the tradeoff.
# FRESHNESS RULE: this constant is a DATASET PROPERTY of the driver's
# sf0.01 corpus (sf0.001 measures 0.70 at the same knobs). It is pinned
# here ONLY because the adjudicated oracle must be a fixed SQL string;
# production callers use similarity.auto_n_probe_calibrated, which keys
# the measured curve by corpus_digest and remeasures on any change —
# the data-independent invariants (monotone in n_probe, 1.0 at n_list)
# are what tests pin, never a recall number.
_IVF_RECALL_CURVE = {1: 0.2, 2: 0.5, 4: 0.7, 6: 0.8, 8: 0.8, 12: 0.9, 16: 1.0}


def _register_recall() -> None:
    from ..operators.similarity import auto_n_probe
    from .extensions2 import _ivf_sql

    tuned = auto_n_probe(16, target_recall=0.9, recall_curve=_IVF_RECALL_CURVE)
    budgets = [4, tuned]
    arms = "\nUNION ALL\n".join(
        f"""
    SELECT CAST({p} AS BIGINT) AS n_probe,
           CAST({_RECALL_K} AS BIGINT) AS k,
           CAST(COUNT(e.vec_id) AS BIGINT) AS n_hit,
           CAST(ROUND(CAST(COUNT(e.vec_id) AS DOUBLE) / {_RECALL_K}.0 * 10000)
                AS BIGINT) AS recall_e4
    FROM ({_ivf_sql(p, _RECALL_K)}) a
    LEFT JOIN ({ORACLE["sim_topk_cosine"]}) e USING (vec_id)
    """
        for p in budgets
    )
    sql = f"SELECT * FROM ({arms}) u ORDER BY n_probe"

    @query("sim_recall_ivf", sql)
    def sim_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """ANN quality harness: recall@10 of the fixed-point IVF probe
        against the exact cosine top-10 for the vec_id=0 query, at TWO
        probe budgets — the n_probe=4 fast tier (measured 0.70) and the
        auto_n_probe(16, 0.9) calibrated budget (12 of 16 → 0.90,
        smallest on the measured curve meeting the target; curve in
        SCALING.md). On these unstructured synthetic embeddings recall
        tracks n_probe/n_list — the honest worst case auto_n_probe's
        closed form assumes; clustered real corpora hit the target at
        far lower budgets. Both sides are the engine's own deterministic
        operators and the oracle is assembled from their adjudicated
        oracle SQL verbatim, so the evaluation itself is hash-matched
        (no float recall: the ratio scales to an exact integer)."""
        from ..operators import similarity as sim_mod

        emb = load_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
        exact = sim_mod.topk_cosine(emb, qvec, k=_RECALL_K).select("vec_id")
        arms = []
        for p in budgets:
            approx = sim_mod.ivf_topk_cosine(
                emb, qvec, k=_RECALL_K, n_list=16, n_probe=p, fixed_point=True
            ).select("vec_id")
            joined = approx.join(exact.withColumn("_h", F.lit(1)), "vec_id", "left")
            arms.append(
                joined.agg(
                    F.lit(p).cast("bigint").alias("n_probe"),
                    F.lit(_RECALL_K).cast("bigint").alias("k"),
                    F.count("_h").cast("bigint").alias("n_hit"),
                    e_int(
                        F.count("_h").cast("double") / F.lit(float(_RECALL_K)), 4
                    ).alias("recall_e4"),
                )
            )
        out = arms[0]
        for a in arms[1:]:
            out = out.unionByName(a)
        return out.orderBy("n_probe")


_register_recall()


# ---------------------------------------------------------------------------
# LATERAL correlated subquery — the dialect's top-N-per-group form
# ---------------------------------------------------------------------------
@query(
    "q46_lateral_topk",
    """
    SELECT n.n_name, l.c_name,
           CAST(ROUND(CAST(l.c_acctbal AS DOUBLE) * 10000) AS BIGINT) AS acctbal_e4
    FROM nation n, LATERAL (
        SELECT c_name, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 2) l
    ORDER BY n.n_name, acctbal_e4 DESC, c_name
    """,
)
def q46_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 customers per nation as a correlated LATERAL subquery — the
    SQL-standard form of top-N-per-group, run through spark.sql (Spark
    supports JOIN LATERAL with ORDER BY/LIMIT since 3.2) against the
    same statement in DuckDB. Complements q15/q18, which pin the window
    and TakeOrdered forms of the identical semantics; Catalyst rewrites
    the lateral into a ranked join, so the scale story is the window
    one's."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT n.n_name, l.c_name,
               CAST(ROUND(CAST(l.c_acctbal AS DOUBLE) * 10000) AS BIGINT) AS acctbal_e4
        FROM nation n JOIN LATERAL (
            SELECT c_name, c_acctbal FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 2) l
        ORDER BY n.n_name, acctbal_e4 DESC, c_name
        """
    )


# ---------------------------------------------------------------------------
# Spark 4 dialect surface: SQL pipe syntax and the VARIANT type
# ---------------------------------------------------------------------------
@query(
    "q47_pipe_syntax",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE event_type = 'click'
    GROUP BY user_id HAVING COUNT(*) > 1 ORDER BY user_id
    """,
)
def q47_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL pipe syntax (`|>` operators) driving a real
    filter→aggregate→having chain — the dialect's linear form of q04's
    semantics, hash-matched against the classic statement in DuckDB.
    Pipe stages compile to the identical Catalyst plan, so this pins
    that the engine's newest query surface produces the same results as
    the declarative one."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        FROM events
        |> WHERE event_type = 'click'
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n GROUP BY user_id
        |> WHERE n > 1
        |> ORDER BY user_id
        """
    )


@query(
    "q48_variant_props",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_high,
           CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k
    FROM events
    WHERE CAST(props->>'k' AS INTEGER) >= 50
    GROUP BY event_type ORDER BY event_type
    """,
)
def q48_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics over the VARIANT type (Spark 4):
    events.props parses once into a variant, `variant_get` extracts the
    typed field, and the aggregate runs over it — the modern
    (shredding-friendly) replacement for q39's get_json_object path,
    hash-matched against DuckDB's JSON operators on the same column."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_high"),
            F.sum("k").cast("bigint").alias("sum_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# KMV sketch MERGE — the mergeability property adjudicated as an identity
# ---------------------------------------------------------------------------
_KMVM_K = 64
_SIXTY_SQL = "1152921504606846976.0"  # 2^60 as a double literal


@query(
    "sketch_kmv_merge",
    f"""
    WITH keys AS (SELECT DISTINCT o_custkey AS key FROM orders
                  WHERE o_orderstatus IN ('O', 'F')),
    h AS (SELECT key,
                 CAST('0x' || substr(md5('kmv:' || CAST(key AS VARCHAR)), 1, 15)
                      AS BIGINT) AS h
          FROM keys),
    r AS (SELECT h, key, ROW_NUMBER() OVER (ORDER BY h, key) AS rn,
                 COUNT(*) OVER () AS n
          FROM h)
    SELECT CAST(LEAST(n, {_KMVM_K}) AS BIGINT) AS n_sketch_rows,
           CAST(ROUND(CASE WHEN n >= {_KMVM_K}
                  THEN {_KMVM_K - 1}.0 * {_SIXTY_SQL} / CAST(h AS DOUBLE)
                  ELSE CAST(n AS DOUBLE) END * 10000) AS BIGINT) AS est_e4
    FROM r WHERE rn = LEAST(n, {_KMVM_K})
    """,
)
def sketch_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY adjudicated as an exact identity: the Spark
    side builds per-status KMV sketch STATES (bottom-64 draw rows per
    o_orderstatus, operators/sketches.kmv_bottomk) and merges them
    (kmv_merge: bottom-k of the union of bottom-k sets); the oracle
    computes the DIRECT sketch over the combined key set. Hash match =
    merging per-node sketch states loses nothing versus sketching the
    whole dataset at once — the property that lets 1000 executors
    combine partial sketches into the global estimate."""
    from ..operators.sketches import kmv_bottomk, kmv_merge

    orders = load_table(spark, sf_dir, "orders")
    filt = orders.filter(F.col("o_orderstatus").isin("O", "F"))
    sketches = kmv_bottomk(filt, "o_orderstatus", "o_custkey", _KMVM_K)
    return kmv_merge(sketches, _KMVM_K)


# ---------------------------------------------------------------------------
# KMV sketch INTERSECTION — theta-sketch set algebra from shipped states
# ---------------------------------------------------------------------------
_KMVI_DRAW = "CAST('0x' || substr(md5('kmv:' || CAST(key AS VARCHAR)), 1, 15) AS BIGINT)"


@query(
    "sketch_kmv_intersect",
    f"""
    WITH a AS (SELECT DISTINCT o_custkey AS key FROM orders WHERE o_orderstatus = 'F'),
    b AS (SELECT DISTINCT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'),
    ha AS (SELECT key, {_KMVI_DRAW} AS h FROM a),
    hb AS (SELECT key, {_KMVI_DRAW} AS h FROM b),
    ska AS (SELECT key, h, n FROM (
        SELECT key, h, ROW_NUMBER() OVER (ORDER BY h, key) AS rn, COUNT(*) OVER () AS n
        FROM ha) t WHERE rn <= {_KMVM_K}),
    skb AS (SELECT key, h, n FROM (
        SELECT key, h, ROW_NUMBER() OVER (ORDER BY h, key) AS rn, COUNT(*) OVER () AS n
        FROM hb) t WHERE rn <= {_KMVM_K}),
    tha AS (SELECT CASE WHEN MAX(n) >= {_KMVM_K} THEN MAX(h)
                        ELSE CAST({_SIXTY_SQL} AS BIGINT) END AS th FROM ska),
    thb AS (SELECT CASE WHEN MAX(n) >= {_KMVM_K} THEN MAX(h)
                        ELSE CAST({_SIXTY_SQL} AS BIGINT) END AS th FROM skb),
    th AS (SELECT LEAST(tha.th, thb.th) AS theta FROM tha, thb),
    common AS (SELECT s.key FROM ska s JOIN skb t ON s.key = t.key AND s.h = t.h,
               th WHERE s.h < th.theta),
    cnt AS (SELECT COUNT(*) AS n_common FROM common),
    exact AS (SELECT COUNT(*) AS n_exact FROM (
        SELECT key FROM a INTERSECT SELECT key FROM b) t)
    SELECT CAST(cnt.n_common AS BIGINT) AS n_common,
           CAST(ROUND(CAST(cnt.n_common AS DOUBLE) * {_SIXTY_SQL}
                      / CAST(th.theta AS DOUBLE) * 10000) AS BIGINT) AS est_e4,
           CAST(exact.n_exact AS BIGINT) AS n_exact
    FROM cnt, th, exact
    """,
)
def sketch_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra from shipped sketch STATES
    (operators/sketches.kmv_intersect): per-status bottom-64 KMV states
    for 'F' and 'O' customers, θ = min of the two thresholds, and the
    common keys below θ form a uniform sample of the intersection at
    rate θ/2^60 — the estimate is |common|·2^60/θ, degenerating to the
    exact count while both sides hold under k keys. The artifact also
    carries the EXACT intersection count, so the adjudicated row is
    self-evaluating (the same pattern sketch_bloom uses for its
    false-positive count). At 100 TB the raw data never moves: each
    side ships k (draw, key) rows and the overlap query runs on the
    states — audience-overlap / cross-corpus-contamination analytics
    from kilobytes of state."""
    from ..operators.sketches import kmv_bottomk, kmv_intersect

    orders = load_table(spark, sf_dir, "orders")
    filt = orders.filter(F.col("o_orderstatus").isin("O", "F"))
    sk = kmv_bottomk(filt, "o_orderstatus", "o_custkey", _KMVM_K)
    sk_a = sk.filter(F.col("o_orderstatus") == "F").select("h", "_key")
    sk_b = sk.filter(F.col("o_orderstatus") == "O").select("h", "_key")
    est = kmv_intersect(sk_a, sk_b, _KMVM_K)
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    b = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    exact = a.join(b, "o_custkey").agg(F.count("*").cast("bigint").alias("n_exact"))
    return est.crossJoin(exact)


# ---------------------------------------------------------------------------
# Triangle counting — community structure over the trade graph
# ---------------------------------------------------------------------------
@query(
    "graph_triangles",
    """
    -- AS MATERIALIZED: DuckDB inlines plain CTEs per reference; with
    -- e referenced three times the inlined 3-way expansion replans the
    -- whole upstream join chain into a >200s plan at sf0.1 (measured),
    -- while materialization answers in 0.08s
    WITH raw AS MATERIALIZED (
        SELECT c_nationkey AS a, s_nationkey AS b, COUNT(*) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
    und AS MATERIALIZED (SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v, SUM(w) AS w
            FROM raw WHERE a <> b GROUP BY 1, 2),
    tot AS (SELECT SUM(w) AS t FROM und),
    e AS MATERIALIZED (SELECT u, v FROM und CROSS JOIN tot WHERE w * 300 >= t),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    x AS (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM x GROUP BY node ORDER BY node
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle counts over the STRONG trade graph (undirected
    customer-nation ↔ supplier-nation edges keeping above-average trade
    weight, w·300 ≥ Σw — a data-relative integer threshold both engines
    state identically), via the canonical a<b<c two-join chain
    (operators/components.triangle_counts). Completes the graph family:
    pagerank (centrality), components (connectivity), triangles
    (community structure)."""
    from ..operators.components import triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    raw = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b")
        )
        .agg(F.count("*").alias("w"))
    )
    und = (
        raw.filter(F.col("a") != F.col("b"))
        .groupBy(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .agg(F.sum("w").alias("w"))
    )
    tot = und.agg(F.sum("w").alias("t"))
    e = und.crossJoin(F.broadcast(tot)).filter(
        F.col("w") * 300 >= F.col("t")
    ).select("u", "v")
    return triangle_counts(e).orderBy("node")


# ---------------------------------------------------------------------------
# The corpus-prep COMPOSITE, adjudicated end to end: sample -> quality
# -> language -> exact dedup -> chunk as ONE hash-matched entry.
# ---------------------------------------------------------------------------
def _register_pipe_prepare() -> None:
    from ..operators.pipeline import sample_threshold
    from .extensions import ASCII_TOKEN, _STOP_LIST_SQL, _markers_sql

    thr = sample_threshold(0.6)
    sql = rf"""
    WITH base AS (
        SELECT doc_id, text FROM documents
        WHERE CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) < {thr}),
    qf AS (
        SELECT doc_id, text,
               CAST(LENGTH(text) AS DOUBLE) AS n_chars,
               CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
               CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) AS n_punct,
               regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS toks
        FROM base),
    qg AS (
        SELECT doc_id, text, toks, n_chars, n_alpha, n_punct,
               CAST(LEN(toks) AS DOUBLE) AS n_words,
               CAST(LEN(list_filter(toks, t -> list_contains({_STOP_LIST_SQL}, t))) AS DOUBLE) AS n_stop,
               CAST(list_sum(list_transform(toks, t -> LENGTH(t))) AS DOUBLE) AS sum_len
        FROM qf),
    qr AS (
        SELECT doc_id, text, toks,
               CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
               CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
               CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END AS stop_ratio,
               CASE WHEN n_words > 0 THEN sum_len / n_words ELSE 0.0 END AS mean_word_len,
               LEAST(n_words / 20.0, 1.0) AS len_score
        FROM qg),
    qkeep AS (
        SELECT doc_id, text, toks FROM qr
        WHERE CAST(ROUND((0.3 * len_score + 0.25 * alpha_ratio
              + 0.2 * (1.0 - LEAST(punct_ratio * 4, 1.0))
              + 0.15 * LEAST(stop_ratio * 3, 1.0)
              + 0.1 * (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10
                            THEN 1.0 ELSE 0.5 END)) * 10000) AS BIGINT) >= 5500),
    ls AS (
        SELECT doc_id, text, toks,
               LEN(list_filter(toks, t -> list_contains({_markers_sql('en')}, t))) AS s_en,
               LEN(list_filter(toks, t -> list_contains({_markers_sql('es')}, t))) AS s_es,
               LEN(list_filter(toks, t -> list_contains({_markers_sql('de')}, t))) AS s_de,
               LEN(list_filter(toks, t -> list_contains({_markers_sql('fr')}, t))) AS s_fr,
               LENGTH(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_cjk
        FROM qkeep),
    lb AS (SELECT *, GREATEST(s_en, s_es, s_de, s_fr) AS best FROM ls),
    lkeep AS (
        SELECT doc_id, text, toks FROM lb
        WHERE NOT (n_cjk * 2 > LENGTH(text)) AND best > 0
          AND s_de <> best AND s_en = best),
    dd AS (SELECT doc_id, toks FROM (
        SELECT doc_id, toks,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM lkeep) t WHERE rn = 1),
    chunks AS (
        SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
               array_to_string(list_slice(toks, i * 32 + 1, (i + 1) * 32), ' ') AS chunk
        FROM dd, UNNEST(range(CAST(CEIL(LEN(toks) / 32.0) AS BIGINT))) r(i))
    SELECT doc_id, chunk_idx, md5(chunk) AS chunk_hash,
           CAST(LEN(string_split(chunk, ' ')) AS BIGINT) AS n_tokens
    FROM chunks WHERE chunk <> '' ORDER BY doc_id, chunk_idx
    """

    @query("pipe_prepare_corpus", sql)
    def pipe_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The flagship COMPOSITE under adjudication: the whole
        prepare_corpus chain — deterministic 60% sample → quality ≥ 0.55
        (integer-exact threshold on the 4dp-rounded score) → language
        'en' → exact dedup (lowest id per text) → 32-token chunking —
        hash-matched as ONE statement. Every stage is individually
        oracle-green (mix_stratified, ta_quality, ta_langid,
        q29_exact_dedup, ta_chunking); this entry proves the
        COMPOSITION: one lazy plan, narrow filters below the dedup
        shuffle, and the same rows out of both engines
        (operators/pipeline.prepare_corpus)."""
        from ..operators.pipeline import prepare_corpus

        docs = load_table(spark, sf_dir, "documents")
        out = prepare_corpus(
            docs,
            sample_fraction=0.6,
            min_quality=0.55,
            languages=["en"],
            exact_dedup=True,
            near_dedup_threshold=None,
            chunk_tokens=32,
        )
        return out.select(
            "doc_id",
            "chunk_idx",
            F.md5("chunk_text").alias("chunk_hash"),
            F.size(F.split("chunk_text", " ")).cast("bigint").alias("n_tokens"),
        ).orderBy("doc_id", "chunk_idx")


_register_pipe_prepare()


# ---------------------------------------------------------------------------
# Spark 4 dialect surface, continued: recursive CTEs and Python UDTFs
# ---------------------------------------------------------------------------
_WALK_MAX_HOPS = 8


@query(
    "q49_recursive_cte",
    f"""
    WITH RECURSIVE
    e AS (SELECT event_id,
                 LAG(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
          FROM events),
    roots AS (SELECT MIN(event_id) AS root FROM events GROUP BY user_id),
    walk (node, root, hop) AS (
        SELECT root AS node, root, 0 AS hop FROM roots
        UNION ALL
        SELECT e.event_id, w.root, w.hop + 1
        FROM walk w JOIN e ON e.prev = w.node
        WHERE w.hop < {_WALK_MAX_HOPS}
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(root AS BIGINT) AS root,
           CAST(hop AS BIGINT) AS hop
    FROM walk ORDER BY node, root
    """,
)
def q49_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure — the recursive-CTE query semantics
    (the oracle IS the literal WITH RECURSIVE statement, and Spark 4's
    native recursive CTE is pinned row-identical to this plan in
    tests/test_components.py), executed by POINTER DOUBLING
    (operators/components.bounded_closure). The graph is the per-user
    event chain; from each chain's root the walk emits (node, root,
    hop) out to {_WALK_MAX_HOPS} hops.

    Why not execute the native recursive CTE: its executor materializes
    every recursion level as its own job, and with a bounded walk the
    per-level scheduling floor dominates — measured at sf0.1: native
    3.87s, doubling 1.71s (one lazy plan, ceil(log2 d) squarings; full
    ladder incl. the path-degenerate window form in SCALING.md round-5
    note). At 100 TB the doubling form's sequential depth grows with
    log(max_hops) instead of max_hops — strictly better than both the
    native executor and a hand-rolled per-hop loop."""
    from pyspark.sql import Window as W

    from ..operators.components import bounded_closure

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    w = W.partitionBy("user_id").orderBy("event_id")
    edges = (
        ev.withColumn("prev", F.lag("event_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("event_id").alias("dst"))
    )
    roots = ev.groupBy("user_id").agg(F.min("event_id").alias("root")).select("root")
    walk = bounded_closure(edges, roots, _WALK_MAX_HOPS)
    return walk.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("root").cast("bigint").alias("root"),
        F.col("hop").cast("bigint").alias("hop"),
    ).orderBy("node", "root")


@query(
    "q50_udtf_bigrams",
    r"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\b\w\w+\b') AS t
        FROM documents),
    idx AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks),
    bg AS (SELECT t[i] || ' ' || t[i+1] AS bigram FROM idx WHERE i < LEN(t))
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
)
def q50_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4): an Arrow-optimized table function
    emits word bigrams per document through a LATERAL correlated join,
    then a plain aggregate ranks the top 20 — hash-matched against
    DuckDB's array-subscript formulation of the same bigrams. This is
    deliberately API-parity evidence, not the scale path: the repo's
    hot-path bigram extraction (ta_bigram_lp / ta_trigram_lp) stays in
    JVM expressions; the UDTF exists for user-defined expansions the
    expression language can't state, and useArrow=True keeps the
    transfer batched (Arrow) rather than pickled row-at-a-time."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram: string", useArrow=True)
    class _Bigrams:
        def eval(self, text: str):
            toks = re.findall(r"\b\w\w+\b", text.lower())
            for i in range(len(toks) - 1):
                yield (toks[i] + " " + toks[i + 1],)

    spark.udtf.register("udtf_bigrams", _Bigrams)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT b.bigram, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents d, LATERAL udtf_bigrams(d.text) b
        GROUP BY b.bigram ORDER BY n DESC, b.bigram LIMIT 20
        """
    )


# ---------------------------------------------------------------------------
# Contrastive negative sampling — deterministic pair generation
# ---------------------------------------------------------------------------
@query(
    "mix_negatives",
    """
    WITH r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk,
                      COUNT(*) OVER () AS n
               FROM documents),
    a AS (SELECT doc_id AS anchor_id, rk AS arank, n FROM r WHERE doc_id % 10 = 0),
    d AS (SELECT anchor_id, arank, n, i AS j,
                 CAST('0x' || substr(md5('neg:' || CAST(anchor_id AS VARCHAR)
                                      || ':' || CAST(i AS VARCHAR)), 1, 15)
                      AS BIGINT) % (n - 1) AS draw
          FROM a, UNNEST(range(4)) s(i)),
    m AS (SELECT anchor_id, j,
                 CASE WHEN draw + 1 >= arank THEN draw + 2 ELSE draw + 1 END AS nrank
          FROM d)
    SELECT m.anchor_id, CAST(m.j AS BIGINT) AS j, r.doc_id AS neg_id
    FROM m JOIN r ON r.rk = m.nrank
    ORDER BY anchor_id, j
    """,
)
def mix_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive negative sampling (operators/pipeline.negative_samples):
    every 10th document anchors 4 uniform negatives drawn by md5 integer
    — never the anchor itself, via the rank-skip exclusion — the pair
    generator behind contrastive embedding / reranker training sets.
    The Spark side ranks the corpus with the two-phase range-partitioned
    rank (no global window); the oracle states the identical arithmetic
    over ROW_NUMBER. Completes the sampling family: keep-fraction
    (mix_stratified), weighted without replacement (mix_weighted_topk),
    temperature reweighting (mix_temperature), and now pairwise draws."""
    from ..operators.pipeline import negative_samples

    docs = load_table(spark, sf_dir, "documents")
    anchors = docs.filter(F.col("doc_id") % 10 == 0)
    out = negative_samples(docs, anchors, "doc_id", k=4, salt="neg")
    return out.select(
        "anchor_id", F.col("j").cast("bigint").alias("j"), "neg_id"
    ).orderBy("anchor_id", "j")


# ---------------------------------------------------------------------------
# End-to-end dedup pipeline: near-dup pairs -> components -> keep list
# ---------------------------------------------------------------------------
def _register_group_keep() -> None:
    from .extensions import ASCII_TOKEN

    # The oracle mirrors the reduction the kernel itself stands on:
    # identical shingle SETS collapse to fingerprint groups, LSH + exact
    # Jaccard verify runs among group REPRESENTATIVES only, and the
    # component labels come from the rep-level graph — each group's
    # members inherit their rep's component, whose minimum IS the
    # component's minimum doc (every rep is its group's min). A naive
    # recursive-CTE closure over the EXPANDED pair graph is correct but
    # accumulates per-node reachability against ~1500-degree near-clique
    # clusters (measured 278s at sf0.1); instead the closure is a fixed
    # unroll of min-label propagation with a pointer jump per round
    # (Shiloach-Vishkin shape, O(log n) convergence). Correctness does
    # NOT rest on the unroll depth: labels only ever hold same-component
    # node ids and the component minimum keeps itself, so if every edge
    # is label-consistent the labels EQUAL the component minima — and
    # when the certificate fails, a loud (-1, -1) sentinel row is
    # emitted, breaking the hash-match instead of silently passing.
    rounds = 8
    prop = []
    for k in range(rounds):
        p, c = f"l{k}", f"l{k + 1}"
        prop.append(f"""
    {c} AS MATERIALIZED (
        SELECT v.node,
               LEAST(v.lbl, COALESCE(nb.m, v.lbl), COALESCE(pj.lbl, v.lbl)) AS lbl
        FROM {p} v
        LEFT JOIN (SELECT e.u AS node, MIN(l.lbl) AS m
                   FROM redges e JOIN {p} l ON l.node = e.v GROUP BY e.u) nb
          ON nb.node = v.node
        LEFT JOIN {p} pj ON pj.node = v.lbl)""")
    sql = (
        rf"""
    WITH sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS shingle
        FROM documents),
    fp AS (SELECT doc_id, md5(string_agg(shingle, chr(1) ORDER BY shingle)) AS f
           FROM sh GROUP BY doc_id),
    grp AS MATERIALIZED (
        SELECT doc_id, f, MIN(doc_id) OVER (PARTITION BY f) AS rep,
               COUNT(*) OVER (PARTITION BY f) AS cnt
        FROM fp),
    rsh AS MATERIALIZED (
        SELECT s.doc_id, s.shingle FROM sh s
        JOIN grp g ON g.doc_id = s.doc_id AND g.doc_id = g.rep),
    hx AS (SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || shingle)) AS sig
           FROM rsh CROSS JOIN range(16) r(i) GROUP BY doc_id, i),
    bands AS (SELECT doc_id, i // 4 AS band,
                     md5(string_agg(sig, ',' ORDER BY i)) AS band_hash
              FROM hx GROUP BY doc_id, i // 4),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM rsh GROUP BY doc_id),
    ov AS (SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, COUNT(*) AS o
           FROM rsh sa JOIN rsh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
           GROUP BY 1, 2),
    rpairs AS MATERIALIZED (
        SELECT c.id_a, c.id_b
        FROM cand c JOIN ov USING (id_a, id_b)
        JOIN sizes x ON x.doc_id = c.id_a JOIN sizes y ON y.doc_id = c.id_b
        WHERE ov.o * 1.0 / (x.n + y.n - ov.o) >= 0.8),
    redges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM rpairs
               UNION ALL SELECT id_b, id_a FROM rpairs),
    l0 AS (SELECT u AS node, LEAST(u, MIN(v)) AS lbl FROM redges GROUP BY u)"""
        + ","
        + ",".join(prop)
        + f""",
    nodes AS (SELECT doc_id, rep FROM grp
              WHERE cnt > 1 OR rep IN (SELECT node FROM l{rounds}))
    SELECT n.doc_id, COALESCE(lf.lbl, n.rep) AS keep_id
    FROM nodes n LEFT JOIN l{rounds} lf ON lf.node = n.rep
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
    WHERE EXISTS (SELECT 1 FROM redges e
                  JOIN l{rounds} a ON a.node = e.u
                  JOIN l{rounds} b ON b.node = e.v
                  WHERE a.lbl <> b.lbl)
    ORDER BY doc_id
    """
    )

    @query("dedup_group_keep", sql)
    def dedup_group_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The COMPLETE near-dedup workflow as one lazy plan — the shape a
        100 TB corpus dedup actually runs: MinHash+LSH candidate pairs at
        Jaccard >= 0.8 (operators/dedup.minhash_near_dups, oracle-green on
        its own as dedup_minhash) feed large-star/small-star connected
        components (operators/components.connected_components, oracle-green
        as graph_components), and each duplicate cluster elects its
        minimum doc_id as the canonical survivor. Output (doc_id, keep_id)
        for every document in a duplicate group; rows where doc_id !=
        keep_id are the removal list. The oracle recomputes the verified
        pairs at the fingerprint-representative level and labels
        components by certificate-checked min-label propagation (see the
        comment in _register_group_keep) — same group labels, stated
        independently. Scale:
        the component step consumes dedup.minhash_dup_edges — the
        connectivity-equivalent star+rep edge set, linear in documents
        where the expanded pair list is quadratic in duplicate-cluster
        size (65M pairs vs ~25k edges at sf0.5, measured; equivalence
        pinned by test) — candidate generation stays band-bucketed, the
        components step contracts locally before any shuffle, and
        nothing here collects to the driver."""
        from ..operators import dedup as dd
        from ..operators.components import connected_components

        docs = load_table(spark, sf_dir, "documents")
        edges = dd.minhash_dup_edges(
            docs, threshold=0.8, num_hashes=16, rows_per_band=4
        )
        # star edges (rep < member) and verified rep pairs (id_a < id_b)
        # are disjoint unique ordered sets — the input-sym distinct
        # shuffle is provably redundant (round 12)
        comp = connected_components(edges, "id_a", "id_b", assume_distinct_edges=True)
        return comp.select(
            F.col("node").cast("bigint").alias("doc_id"),
            F.col("component").cast("bigint").alias("keep_id"),
        ).orderBy("doc_id")


_register_group_keep()


# ---------------------------------------------------------------------------
# Incremental near-dedup: new batch vetted against the settled corpus
# ---------------------------------------------------------------------------
_INC_MOD = 5  # every 5th doc plays the fresh batch — proportional at every sf


def _register_incremental() -> None:
    from .extensions import ASCII_TOKEN
    from .relational import e_int_sql

    sql = rf"""
    WITH shc AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS shingle
        FROM documents WHERE doc_id % {_INC_MOD} <> 0),
    shb AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS shingle
        FROM documents WHERE doc_id % {_INC_MOD} = 0),
    hxc AS (SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || shingle)) AS sig
            FROM shc CROSS JOIN range(16) r(i) GROUP BY doc_id, i),
    bandsc AS (SELECT doc_id, i // 4 AS band,
                      md5(string_agg(sig, ',' ORDER BY i)) AS band_hash
               FROM hxc GROUP BY doc_id, i // 4),
    hxb AS (SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || shingle)) AS sig
            FROM shb CROSS JOIN range(16) r(i) GROUP BY doc_id, i),
    bandsb AS (SELECT doc_id, i // 4 AS band,
                      md5(string_agg(sig, ',' ORDER BY i)) AS band_hash
               FROM hxb GROUP BY doc_id, i // 4),
    cand AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
             FROM bandsb b JOIN bandsc c
               ON b.band = c.band AND b.band_hash = c.band_hash),
    nb AS (SELECT doc_id AS batch_id, COUNT(*) AS nb FROM shb GROUP BY 1),
    nc AS (SELECT doc_id AS corpus_id, COUNT(*) AS nc FROM shc GROUP BY 1),
    ov AS (SELECT sb.doc_id AS batch_id, sc.doc_id AS corpus_id, COUNT(*) AS o
           FROM shb sb JOIN shc sc ON sb.shingle = sc.shingle GROUP BY 1, 2),
    j AS (SELECT c.batch_id, c.corpus_id,
                 ov.o * 1.0 / (nb.nb + nc.nc - ov.o) AS jac
          FROM cand c JOIN ov USING (batch_id, corpus_id)
          JOIN nb USING (batch_id) JOIN nc USING (corpus_id))
    SELECT batch_id, {e_int_sql('MAX(jac)')} AS max_jaccard_e4
    FROM j WHERE jac >= 0.8 GROUP BY batch_id ORDER BY batch_id
    """

    @query("dedup_incremental", sql)
    def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Incremental ingest dedup (operators/dedup.minhash_near_dups_
        against): every {mod}th document plays the freshly crawled
        batch (proportional at every sf), the rest is the settled corpus,
        and each batch document gets its vetting verdict: the best exact
        Jaccard >= 0.8 found in the corpus (absent = clean). Under the
        dense-dictionary cap the kernel runs ONE fused signature
        aggregation per side, collapses identical corpus contents on
        their bitmap (an exact set fingerprint) and band-joins batch
        documents x distinct corpus contents only; past the cap it runs
        the fingerprint cascade on both sides and band-joins batch reps
        x corpus reps. Never corpus x corpus, corpus work ∝ distinct
        contents, output linear in the batch (the full pair list is
        quadratic in duplicate-cluster size on dup-heavy data: 21M pairs
        at sf0.5). The oracle states the same verdicts at the document
        level, where candidates and Jaccard are set-determined anyway. Complements dedup_minhash (within-corpus) and
        dedup_cross_corpus (exact digests across corpora)."""
        from ..functions.numeric import e_int
        from ..operators import dedup as dd

        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % _INC_MOD != 0)
        batch = docs.filter(F.col("doc_id") % _INC_MOD == 0)
        out = dd.minhash_near_dups_against(
            corpus, batch, threshold=0.8, num_hashes=16, rows_per_band=4
        )
        return out.select(
            "batch_id", e_int(F.col("max_jaccard")).alias("max_jaccard_e4")
        ).orderBy("batch_id")

    dedup_incremental.__doc__ = dedup_incremental.__doc__.replace(
        "{mod}", str(_INC_MOD)
    )


_register_incremental()


# ---------------------------------------------------------------------------
# Record linkage: blocked fuzzy matching on edit distance
# ---------------------------------------------------------------------------
@query(
    "q51_fuzzy_match",
    """
    WITH b AS (SELECT p_partkey, p_name, p_brand,
                      string_split(p_name, ' ')[1] AS blk
               FROM part)
    SELECT a.p_partkey AS id_a, x.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, x.p_name) AS BIGINT) AS dist
    FROM b a JOIN b x
      ON a.blk = x.blk AND a.p_brand = x.p_brand AND a.p_partkey < x.p_partkey
    WHERE levenshtein(a.p_name, x.p_name) BETWEEN 1 AND 3
    ORDER BY id_a, id_b
    """,
)
def q51_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution: near-miss part-name pairs at
    edit distance 1..3, blocked on (first name token, brand) — the
    classic blocking+verify shape, with the same division of labor as
    the dedup family: blocking bounds the quadratic work to Σ|block|²
    (never an all-pairs name comparison), the in-block verifier is the
    JVM levenshtein builtin, and exact matches (distance 0) are
    excluded because exact-key dedup is q29's cheaper job. At 100 TB
    the blocking key is the design lever — compose more selective keys
    (phonetic code, brand, length bucket) or a sorted-neighborhood
    window (etl.assign_sequential_ids rank + q16's lag frame) when
    blocks skew; both engines state the identical arithmetic, so the
    pair set is hash-matched end to end."""
    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    # fingerprint-cascade shape, record-linkage edition: the edit
    # distance depends only on the NAME pair, so verify once per
    # DISTINCT in-block name pair (|names|^2, constant-ish) and expand
    # matches to id pairs through two brand-equi joins — compute is
    # distinct-names-quadratic + output-linear instead of
    # block-size-quadratic (measured 164s -> the expansion joins at
    # sf1.0, where 200k parts share only 64 distinct names)
    nm = parts.select("p_name").distinct().select(
        "p_name", F.split(F.col("p_name"), " ").getItem(0).alias("blk")
    )
    d = F.levenshtein(F.col("name_a"), F.col("name_b"))
    np_pairs = (
        nm.select(F.col("p_name").alias("name_a"), "blk")
        .join(nm.select(F.col("p_name").alias("name_b"), "blk"), "blk")
        .filter(d.between(1, 3))
        .select("name_a", "name_b", d.cast("bigint").alias("dist"))
    )
    a = parts.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"), "p_brand"
    )
    x = parts.select(
        F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b"), "p_brand"
    )
    # no forced broadcast on np_pairs: distinct-name pairs are tiny in
    # THIS generator's data (64 names at sf1.0) but derive from the
    # SF-scaling part table, so they are not bounded by plan
    # construction — a forced hint would broadcast them at ANY size
    # (the round-11 lint catch). AQE converts the join to broadcast at
    # runtime whenever the measured pair table is actually small.
    return (
        np_pairs.join(a, "name_a")
        .join(x, ["name_b", "p_brand"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Stream-static enrichment join — the missing streaming join shape
# ---------------------------------------------------------------------------
@query(
    "stream_enrich",
    """
    SELECT c.c_mktsegment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(e.value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joins a static
    customer dimension inside the micro-batch (stateless, unlike the
    stream-stream interval join's watermark-bounded state) and
    aggregates per (segment, type). Customer carries NO forced
    broadcast hint — it scales with SF, and a forced hint would
    broadcast it at ANY size (the OOM-at-100x pattern). Note the
    replanning story differs from batch: Spark does NOT run AQE inside
    streaming micro-batch plans, so the strategy comes from STATIC
    size estimation against autoBroadcastJoinThreshold — small dims
    still broadcast; past the threshold the join degrades safely to
    shuffle instead of force-broadcasting an oversized table
    (relational.py:22 policy: hints only for bounded smalls).
    Completes the streaming join family's evidence: stream-stream
    (stream_interval_join) and stream-static now both replay through the
    REAL streaming operators and hash-match the batch statement. The
    per-row e4 fixed-point on `value` keeps the sum integer-exact across
    engines (float-sum order hazard, the round-1 lesson)."""
    from ..streaming.windows import run_to_memory_sink, state_partitions, stream_events

    ev = stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(dim, "user_id")
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("value") * 10000).cast("bigint"))
        .cast("bigint")
        .alias("sum_value_e4"),
    )
    with state_partitions(spark, 8):
        out = run_to_memory_sink(
            agg, f"stream_enrich_{next(_SE_SEQ)}", "complete"
        )
    return out.orderBy("c_mktsegment", "event_type")


_SE_SEQ = iter(range(1, 1 << 30))


# ---------------------------------------------------------------------------
# CUBE — completes the multi-dimensional aggregation family
# ---------------------------------------------------------------------------
@query(
    "q52_cube",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rflag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_lstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                      * 10000) AS BIGINT) AS qty_e4
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g_rflag, g_lstatus, rflag, lstatus
    """,
)
def q52_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with GROUPING() provenance ids
    — all four aggregation levels from ONE scan (Catalyst expands the
    cube into a single Expand + hash aggregate, partial-agg map-side
    like every groupBy here). Completes the multi-dimensional
    aggregation family: ROLLUP (q20), GROUPING SETS (q21), and the
    grouping-sets time rollup (rollup_events). The DECIMAL-exact sum +
    e4 surface is the q21 convention."""
    from .relational import dec

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rflag"),
            F.grouping("l_linestatus").cast("int").alias("g_lstatus"),
            F.count("*").cast("bigint").alias("n"),
            e_int(F.sum(dec("l_quantity"))).alias("qty_e4"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "g_rflag",
            "g_lstatus",
            "n",
            "qty_e4",
        )
        .orderBy("g_rflag", "g_lstatus", "rflag", "lstatus")
    )


# ---------------------------------------------------------------------------
# Z-order layout key — the multi-dimensional clustering lever, adjudicated
# ---------------------------------------------------------------------------
_Z_BITS = 8
_Z_PLO, _Z_PHI = 900.0, 105000.0   # l_extendedprice bounds (stats-based)
_Z_QLO, _Z_QHI = 1.0, 50.0          # l_quantity bounds


def _z_bucket_sql(col: str, lo: float, hi: float) -> str:
    n = (1 << _Z_BITS) - 1
    return (
        f"LEAST({n}, GREATEST(0, CAST(FLOOR(((CAST({col} AS DOUBLE) - {lo!r}) "
        f"/ {hi - lo!r}) * {float(1 << _Z_BITS)!r}) AS BIGINT)))"
    )


def _z_interleave_sql() -> str:
    """Morton interleave of (pb, qb) — bit b of pb at 2b, of qb at 2b+1,
    the exact bit placement functions/zorder.zorder_key uses."""
    terms = [f"(((pb >> {b}) & 1) << {2 * b})" for b in range(_Z_BITS)]
    terms += [f"(((qb >> {b}) & 1) << {2 * b + 1})" for b in range(_Z_BITS)]
    return " + ".join(terms)


@query(
    "q53_zorder_layout",
    f"""
    WITH b AS (SELECT {_z_bucket_sql('l_extendedprice', _Z_PLO, _Z_PHI)} AS pb,
                      {_z_bucket_sql('l_quantity', _Z_QLO, _Z_QHI)} AS qb
               FROM lineitem),
    z AS (SELECT pb, qb, {_z_interleave_sql()} AS zkey FROM b)
    SELECT CAST(zkey >> {2 * _Z_BITS - 6} AS BIGINT) AS zprefix,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(pb) AS BIGINT) AS pb_min, CAST(MAX(pb) AS BIGINT) AS pb_max,
           CAST(MIN(qb) AS BIGINT) AS qb_min, CAST(MAX(qb) AS BIGINT) AS qb_max
    FROM z GROUP BY 1 ORDER BY 1
    """,
)
def q53_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over lineitem's two query axes
    (functions/zorder.zorder_key + minmax_bucket, pure shift/mask
    expressions — whole-stage codegen, no UDF): price and quantity each
    min-max-bucket into 8 bits, interleave into a 16-bit Morton code,
    and the adjudicated surface groups by the top-6-bit z-prefix — the
    'file' granularity of a z-sorted layout. Each group's (min, max)
    bucket ranges show the box property the layout lever delivers: a
    6-bit prefix fixes 3 high bits of BOTH dimensions, so every group
    is a ≤32×32 box in bucket space and parquet footer min/max stats
    can skip files for predicates on EITHER column (file-skipping
    measured in tests/test_zorder.py). At 100 TB this is computed at
    write time and the sort is the only cost; the oracle restates the
    identical bit arithmetic, so bucketing, interleave, prefix, and
    boxes are hash-matched end to end."""
    from ..functions.zorder import minmax_bucket, zorder_key

    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        minmax_bucket("l_extendedprice", _Z_PLO, _Z_PHI, _Z_BITS).alias("pb"),
        minmax_bucket("l_quantity", _Z_QLO, _Z_QHI, _Z_BITS).alias("qb"),
    )
    z = b.withColumn("zkey", zorder_key(["pb", "qb"], _Z_BITS))
    return (
        z.groupBy(
            F.shiftright(F.col("zkey"), 2 * _Z_BITS - 6).cast("bigint").alias("zprefix")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("pb").cast("bigint").alias("pb_min"),
            F.max("pb").cast("bigint").alias("pb_max"),
            F.min("qb").cast("bigint").alias("qb_min"),
            F.max("qb").cast("bigint").alias("qb_max"),
        )
        .orderBy("zprefix")
    )


# ---------------------------------------------------------------------------
# Round 7: candidate-generator auto-selection — the shingle-frequency
# profile decision (SCALING.md round-6) as an adjudicated artifact
# ---------------------------------------------------------------------------
_AUTO_T, _AUTO_BUDGET = 0.9, 30


def _register_jaccard_autoselect() -> None:
    from .extensions import ASCII_TOKEN

    sql = f"""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS shingle
        FROM documents),
    freq AS (SELECT shingle, COUNT(*) AS f FROM toks GROUP BY shingle),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    pref AS (SELECT doc_id, shingle FROM (
        SELECT t.doc_id, t.shingle, s.n,
               ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.f, t.shingle) AS rk
        FROM toks t JOIN freq f USING (shingle) JOIN sizes s USING (doc_id)) r
        WHERE rk <= n - CEIL({_AUTO_T} * n) + 1),
    pstat AS (SELECT shingle, COUNT(*) AS pdf FROM pref GROUP BY shingle),
    agg AS (SELECT CAST(COALESCE(SUM(pdf * (pdf - 1) // 2), 0) AS BIGINT) AS cand
            FROM pstat),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM sizes),
    ds AS (SELECT CAST(COUNT(*) AS BIGINT) AS distinct_shingles FROM freq)
    SELECT nd.n_docs, ds.distinct_shingles, agg.cand AS prefix_cand_pairs,
           CASE WHEN agg.cand <= {_AUTO_BUDGET} * nd.n_docs
                THEN 'prefix' ELSE 'lsh' END AS generator
    FROM agg, nd, ds
    """

    @query("dedup_jaccard_autoselect", sql)
    def dedup_jaccard_autoselect(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The candidate-generator decision for exact-Jaccard dedup,
        adjudicated (operators/dedup.jaccard_generator_profile): build
        the t=0.9 prefix table exactly as the prefix filter would
        (global-df rarest-first order, |A| - ceil(t·|A|) + 1 per doc)
        and compute the EXACT candidate-pair count its self-join would
        emit — Σ_shingle C(prefix_df, 2) — without running the join;
        pick 'prefix' (lossless, recall 1.0) when that count is within
        30·n_docs, else 'lsh' (the minhash cascade). The factor
        brackets the measured crossover: the zipf long-tail corpus at
        t=0.9 profiles ~5·n and the prefix arm WINS 2× with recall 1.0
        (SCALING.md round-6 table); this uniform-30-word corpus
        profiles ~quadratic and correctly routes to LSH. Every number
        is an integer count over one deterministic ranking, so the
        DECISION ITSELF is hash-matched — and
        dedup.jaccard_near_dups_auto runs the chosen arm end-to-end
        (equality on both corpus shapes pinned by
        tests/test_prefix_filter.py). At 100 TB the profile costs two
        groupBys over the shingle table the pipeline builds anyway —
        the cheapest insurance against committing a quadratic
        candidate join to the wrong corpus."""
        from ..operators import dedup as dd

        docs = load_table(spark, sf_dir, "documents")
        sh = dd.shingles(docs, size=1)
        prof = dd.jaccard_generator_profile(
            sh, threshold=_AUTO_T, budget_factor=_AUTO_BUDGET
        )
        return spark.createDataFrame(
            [(
                prof["n_docs"],
                prof["distinct_shingles"],
                prof["prefix_cand_pairs"],
                prof["generator"],
            )],
            "n_docs bigint, distinct_shingles bigint, "
            "prefix_cand_pairs bigint, generator string",
        )


_register_jaccard_autoselect()


# ---------------------------------------------------------------------------
# Round 7: batched-stack recall adjudication — the production ANN path's
# QUALITY, not just its scores' parity, composed from the two entries'
# own oracle chains
# ---------------------------------------------------------------------------
def _register_recall_many() -> None:
    sql = f"""
    SELECT a.query_id,
           CAST({_MANY_K} AS BIGINT) AS k,
           CAST(COUNT(e.vec_id) AS BIGINT) AS n_hit,
           CAST(ROUND(CAST(COUNT(e.vec_id) AS DOUBLE) / {_MANY_K}.0 * 10000)
                AS BIGINT) AS recall_e4
    FROM ({ORACLE["sim_topk_many_ivfpq_rerank"]}) a
    LEFT JOIN ({ORACLE["sim_topk_many"]}) e USING (query_id, vec_id)
    GROUP BY a.query_id ORDER BY a.query_id
    """

    @query("sim_recall_many_ivfpq", sql)
    def sim_recall_many_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Recall@10 of the BATCHED full ANN stack (IVF prune → PQ-ADC
        shortlist → exact re-rank, one pass per tier for all four
        queries) against the exact batched top-10 — sim_recall_ivf
        grades the single-query probe budget; this grades the
        production path end to end, per query. Both sides are the
        repo's own adjudicated operators and the oracle is COMPOSED
        from their adjudicated oracle strings verbatim, so the
        evaluation itself is hash-matched (integer recall_e4, never a
        float). At 100 TB the evaluation costs one batched ANN pass
        plus one exact pass over the SAME corpus scan shapes the two
        underlying entries already have."""
        from ..operators import similarity as sim_mod

        emb = load_table(spark, sf_dir, "embeddings")
        qdf = emb.filter(F.col("vec_id") < _MANY_NQ).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        approx = sim_mod.ivfpq_rerank_topk_many(
            emb, qdf, k=_IP_K, rerank_mult=_IPR_MULT, n_list=_IP_NLIST,
            n_probe=_IPR_NPROBE, m=_IP_M, n_codes=_IPR_CODES,
        ).select("query_id", "vec_id")
        exact = sim_mod.topk_cosine_many(emb, qdf, k=_MANY_K).select(
            "query_id", "vec_id"
        ).withColumn("_h", F.lit(1))
        joined = approx.join(exact, ["query_id", "vec_id"], "left")
        return (
            joined.groupBy("query_id")
            .agg(
                F.lit(_MANY_K).cast("bigint").alias("k"),
                F.count("_h").cast("bigint").alias("n_hit"),
                e_int(
                    F.count("_h").cast("double") / F.lit(float(_MANY_K)), 4
                ).alias("recall_e4"),
            )
            .orderBy("query_id")
        )


_register_recall_many()


# ---------------------------------------------------------------------------
# Trainable quality classifier (round-8): exact normal-equations least
# squares, fit AND applied engine-side, adjudicated end to end.
# ---------------------------------------------------------------------------
def _register_fit_classifier() -> None:
    from ..functions.numeric import e_int_sql
    from ..operators.text_analysis import cramer4_sql
    from .extensions import ASCII_TOKEN

    det_a, det_j = cramer4_sql()
    # planted e4-unit signal + deterministic md5 noise in [-1000, 1000]
    label = (
        "20000 + 5000 * x1 - 2500 * x2 + 1250 * x3 + "
        "(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
        " % 2001 - 1000)"
    )
    weights = ", ".join(
        f"({det_j[j]}) / ({det_a}) AS w{j}" for j in range(4)
    )
    infer = (
        "w0 + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE)"
        " + w3 * CAST(x3 AS DOUBLE)"
    )
    out_w = ", ".join(e_int_sql(f"w{j} / 10000.0", 6) + f" AS w{j}_e6" for j in range(4))
    threshold = "90000.0"

    oracle = f"""
    WITH toks AS (SELECT doc_id,
                         unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS t
                  FROM documents),
    bt AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 3 AS bkt
           FROM toks),
    cnt AS (SELECT doc_id,
                   SUM(CASE WHEN bkt = 0 THEN 1 ELSE 0 END) AS x1,
                   SUM(CASE WHEN bkt = 1 THEN 1 ELSE 0 END) AS x2,
                   SUM(CASE WHEN bkt = 2 THEN 1 ELSE 0 END) AS x3
            FROM bt GROUP BY doc_id),
    feats AS (SELECT d.doc_id, COALESCE(x1, 0) AS x1, COALESCE(x2, 0) AS x2,
                     COALESCE(x3, 0) AS x3
              FROM documents d LEFT JOIN cnt USING (doc_id)),
    lab AS (SELECT doc_id, x1, x2, x3, {label} AS y FROM feats),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS a00,
                 CAST(SUM(x1) AS BIGINT) AS a01, CAST(SUM(x2) AS BIGINT) AS a02,
                 CAST(SUM(x3) AS BIGINT) AS a03,
                 CAST(SUM(x1 * x1) AS BIGINT) AS a11, CAST(SUM(x1 * x2) AS BIGINT) AS a12,
                 CAST(SUM(x1 * x3) AS BIGINT) AS a13,
                 CAST(SUM(x2 * x2) AS BIGINT) AS a22, CAST(SUM(x2 * x3) AS BIGINT) AS a23,
                 CAST(SUM(x3 * x3) AS BIGINT) AS a33,
                 CAST(SUM(y) AS BIGINT) AS b0, CAST(SUM(x1 * y) AS BIGINT) AS b1,
                 CAST(SUM(x2 * y) AS BIGINT) AS b2, CAST(SUM(x3 * y) AS BIGINT) AS b3
          FROM lab),
    w AS (SELECT a00 AS n, {weights} FROM m),
    kp AS (SELECT CAST(SUM(CASE WHEN {infer} >= {threshold} THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_keep
           FROM lab, w)
    SELECT n, {out_w}, n_keep FROM w, kp
    """

    @query("ta_fit_classifier", oracle)
    def ta_fit_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Trainable quality classifier, fit AND applied engine-side in
        one plan: regress a planted e4-unit linear signal (+ md5 noise)
        on hashed token features (text_analysis.hashed_token_features —
        integer counts, md5-bucketed), accumulate the normal-equation
        moments X'X / X'y as EXACT int64 sums in one partial-aggregated
        pass (the q44_corr_stats moment pattern at d=4), solve the 4x4
        system with the SHARED Leibniz-expansion Cramer strings
        (text_analysis.cramer4_sql — the identical left-associated IEEE
        chain runs in both engines, so the SOLVE is adjudicated, not
        just the moments), and score every doc with the LEARNED logit
        (n_keep at a fixed threshold). Output: one row — n, the four
        learned weights e6 in label units, n_keep. Nothing is
        collected: the 1-row weight table cross-joins back to the
        corpus, so the same plan at 100 TB shuffles d(d+3)/2 longs for
        the fit and streams the inference map-side. The general-d
        driver-solve twin (text_analysis.fit_quality_classifier) is
        pinned against this path by test; a real pipeline refits its
        quality filter per corpus, which the reference's fixed-literal
        classifier (ta_quality_classifier) cannot."""
        from ..operators.text_analysis import hashed_token_features, moment_aggs

        docs = load_table(spark, sf_dir, "documents")
        feats = hashed_token_features(docs, 3)
        noise = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint") % 2001 - 1000
        )
        lab = feats.select(
            "doc_id", "x1", "x2", "x3",
            (
                F.lit(20000).cast("long")
                + 5000 * F.col("x1") - 2500 * F.col("x2") + 1250 * F.col("x3")
                + noise
            ).alias("y"),
        ).localCheckpoint(eager=False)
        m = lab.agg(*moment_aggs(3, "y"))
        w = m.select(
            F.col("a00").alias("n"),
            *[F.expr(f"({det_j[j]}) / ({det_a})").alias(f"w{j}") for j in range(4)],
        )
        kp = (
            lab.crossJoin(F.broadcast(w))
            .agg(
                F.sum(
                    F.when(F.expr(infer) >= F.expr(threshold), 1).otherwise(0)
                ).cast("bigint").alias("n_keep")
            )
        )
        return w.crossJoin(kp).select(
            "n",
            *[
                e_int(F.col(f"w{j}") / F.lit(10000.0), 6).alias(f"w{j}_e6")
                for j in range(4)
            ],
            "n_keep",
        )


_register_fit_classifier()


# ---------------------------------------------------------------------------
# PMI collocation mining — multiword-expression discovery (round 8)
# ---------------------------------------------------------------------------
from ..functions.numeric import e_int_sql as _e_int_sql  # noqa: E402
from .extensions import ASCII_TOKEN as _ASCII_TOKEN  # noqa: E402

_COLL_MIN = 5
_PMI_EXPR = (
    "CAST(CAST(ROUND(LN((CAST(cab.cab AS DOUBLE) / CAST(tot.b_big AS DOUBLE)) / "
    "((CAST(ua.cw AS DOUBLE) / CAST(tot.t_tok AS DOUBLE)) * "
    "(CAST(ub.cw AS DOUBLE) / CAST(tot.t_tok AS DOUBLE)))), 8) "
    "AS DECIMAL(18,8)) AS DOUBLE)"
)


@query(
    "ta_collocations",
    rf"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{_ASCII_TOKEN}') AS t
        FROM documents),
    bi AS (SELECT t[i] AS a, t[i + 1] AS b
           FROM toks, UNNEST(range(1, LEN(t))) r(i) WHERE LEN(t) >= 2),
    cab AS (SELECT a, b, COUNT(*) AS cab FROM bi GROUP BY 1, 2),
    cw AS (SELECT word, COUNT(*) AS cw FROM (
        SELECT unnest(t) AS word FROM toks) GROUP BY 1),
    tot AS (SELECT (SELECT SUM(cw) FROM cw) AS t_tok,
                   (SELECT SUM(cab) FROM cab) AS b_big)
    SELECT cab.a, cab.b, CAST(cab.cab AS BIGINT) AS pair_count,
           {_e_int_sql(_PMI_EXPR)} AS pmi_e4
    FROM cab JOIN cw ua ON ua.word = cab.a
             JOIN cw ub ON ub.word = cab.b
             CROSS JOIN tot
    WHERE cab.cab >= {_COLL_MIN}
    ORDER BY a, b
    """,
)
def ta_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining over the corpus (Church & Hanks 1990;
    operators/text_analysis.collocations) — the multiword-expression
    discovery stage of a tokenizer/phrase pipeline: pmi(a,b) =
    ln((c(a,b)/B) / ((c(a)/T)(c(b)/T))) for every adjacent token pair
    occurring >= {mc} times. Selection is by INTEGER count only (the
    float score is a value column, never a filter or rank key), the LN
    expression tree is written identically in both engines (the LM
    ladder's 8dp discipline), and the unigram model broadcasts onto the
    count-filtered bigram table — one tokenization pass, no self-join."""
    from ..operators.text_analysis import collocations

    docs = load_table(spark, sf_dir, "documents")
    out = collocations(docs, min_count=_COLL_MIN)
    return out.select(
        "a", "b", "pair_count", e_int(F.col("pmi")).alias("pmi_e4")
    ).orderBy("a", "b")


ta_collocations.__doc__ = ta_collocations.__doc__.format(mc=_COLL_MIN)


# ---------------------------------------------------------------------------
# PII scrubbing adjudicated end to end (round 8)
# ---------------------------------------------------------------------------
def _pii_scrub_sql(col: str) -> str:
    """Nested DuckDB regexp_replace chain applying PII_PATTERNS in the
    SAME deterministic order as operators/pipeline.scrub_pii (dict
    order), with the 'g' flag matching Spark's replace-all default.
    The patterns are RE2-compatible by design (no lookarounds), so the
    identical pattern strings run in both engines."""
    from ..operators.pipeline import PII_PATTERNS

    expr = col
    for kind, pat in PII_PATTERNS.items():
        esc = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{esc}', '[{kind}]', 'g')"
    return expr


def _register_pii_scrub() -> None:
    planted_sql = (
        "text || ' Contact user' || CAST(doc_id AS VARCHAR) || "
        "'@mail-archive.example.com or call +1 (555) 123-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
        "' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || "
        "'.17; SSN 123-45-6789.'"
    )

    @query(
        "pipe_pii_scrub",
        f"""
        WITH planted AS (SELECT doc_id, {planted_sql} AS text FROM documents)
        SELECT doc_id, {_pii_scrub_sql('text')} AS scrubbed
        FROM planted ORDER BY doc_id
        """,
    )
    def pipe_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
        """PII scrubbing adjudicated END TO END on the scrubbed STRINGS
        (operators/pipeline.scrub_pii was previously pattern-test-only):
        every document's text gets a planted id-parameterized email,
        phone, IPv4, and SSN appended, the typed regexp_replace chain
        rewrites them to [email]/[phone]/[ipv4]/[ssn] placeholders, and
        the oracle replays the identical RE2-compatible patterns in the
        identical order with the 'g' flag — any divergence in pattern
        semantics, replacement order, or missed span flips the hash.
        Accidental pattern hits inside the generated prose are scrubbed
        identically by both engines, so they strengthen the check
        rather than weaken it. At 100 TB this is a pure scan-speed map
        (chained JVM regexp_replace, no shuffle, no Python)."""
        from ..operators.pipeline import scrub_pii

        docs = load_table(spark, sf_dir, "documents")
        planted = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" Contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail-archive.example.com or call +1 (555) 123-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" from 192.168."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".17; SSN 123-45-6789."),
            ).alias("text"),
        )
        return (
            scrub_pii(planted)
            .select("doc_id", F.col("text").alias("scrubbed"))
            .orderBy("doc_id")
        )


_register_pii_scrub()


# ---------------------------------------------------------------------------
# Streaming retrieval serving — the similarity family's stream twin (round 8)
# ---------------------------------------------------------------------------
def _register_stream_sim_topk() -> None:
    @query("stream_sim_topk", ORACLE["sim_topk_many"])
    def stream_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming ANN/exact-retrieval SERVING, adjudicated against the
        batch oracle verbatim: the four query vectors arrive as a
        four-file parquet stream (maxFilesPerTrigger=2 — two separate
        micro-batches, so cross-batch invariance is exercised without
        paying four rounds of fixed microbatch setup + corpus scan;
        per-file slicing stays pinned by the pytest twin), and each
        micro-batch runs the adjudicated
        batched kernel against the static corpus under foreachBatch
        (streaming/serving.serve_topk_cosine_foreachbatch). Top-k
        serving is stateless per query — a result row depends only on
        the static corpus and the query's own vector — so stream ==
        batch BY CONSTRUCTION and the union over any micro-batch
        slicing is the same table (pinned by test); the oracle is
        sim_topk_many's statement, shared verbatim. At 100 TB: the
        corpus is scanned once per micro-batch (not per query), the
        shuffle carries ≤ partitions × queries × k narrow rows, and the
        static side swaps for the IVF-partitioned store
        (write_ivf_partitioned) to prune scans by probed list — the
        kernel is unchanged."""
        import os
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..streaming.serving import serve_topk_cosine_foreachbatch

        emb = load_table(spark, sf_dir, "embeddings")
        qdf = emb.filter(F.col("vec_id") < _MANY_NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        # the 4 query files are written driver-side with pyarrow (one
        # bounded collect; float32 -> float64 -> float32 round-trips
        # exactly) instead of 4 separate Spark write jobs. The dir is
        # FIXED per process and rebuilt per invocation — bench's
        # best-of-N re-runs overwrite instead of accumulating /tmp copies
        pa_schema = pa.schema(
            [("query_id", pa.int64()), ("query_vec", pa.list_(pa.float32()))]
        )
        import shutil

        qdir = os.path.join(
            tempfile.gettempdir(), f"stream_sim_topk_{os.getpid()}"
        )
        shutil.rmtree(qdir, ignore_errors=True)
        os.makedirs(qdir)
        for r in qdf.collect():
            tbl = pa.table(
                {"query_id": [r["query_id"]], "query_vec": [r["query_vec"]]},
                schema=pa_schema,
            )
            pq.write_table(tbl, os.path.join(qdir, f"q{r['query_id']}.parquet"))
        qstream = (
            spark.readStream.schema(qdf.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "2")
            .option("pathGlobFilter", "*.parquet")
            .load(qdir)
        )
        out = serve_topk_cosine_foreachbatch(
            qstream, emb, k=_MANY_K, memory_sink=True
        )
        return out.select(
            "query_id", "vec_id", e_int(F.col("score"), 6).alias("score_e6")
        ).orderBy("query_id", F.col("score_e6").desc(), "vec_id")


_register_stream_sim_topk()


# ---------------------------------------------------------------------------
# Cluster topic keywords — corpus/domain discovery over the K-Means
# assignment (round 8)
# ---------------------------------------------------------------------------
def _register_cluster_keywords() -> None:
    from .extensions import _KMEANS_A2_CTES

    @query(
        "ta_cluster_keywords",
        f"""
        WITH {_KMEANS_A2_CTES},
        ct AS (SELECT a2.cluster, w.word, COUNT(*) AS n_docs
               FROM w JOIN a2 USING (doc_id) GROUP BY 1, 2),
        r AS (SELECT cluster, word, n_docs,
                     ROW_NUMBER() OVER (PARTITION BY cluster
                         ORDER BY n_docs DESC, word) AS rnk
              FROM ct)
        SELECT cluster, word, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(rnk AS INT) AS rnk
        FROM r WHERE rnk <= 5 ORDER BY cluster, rnk
        """,
    )
    def ta_cluster_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Cluster topic keywords — the corpus/domain-discovery stage
        (the c-TF-IDF labeling step of BERTopic-style pipelines,
        restricted to its INTEGER core so the whole chain hash-matches):
        documents are clustered by the adjudicated fixed-point K-Means
        (the kmeans_documents chain verbatim — same seeds, same two
        assignment passes), and each cluster is labeled by its top-5
        terms by within-cluster DOCUMENT count (ties broken by term;
        selection is integer-only, no float ever ranks a row). The
        oracle extends the kmeans_documents CTE chain (shared verbatim
        via _KMEANS_A2_CTES) with the term-count ranking, so the
        clustering AND the labeling are adjudicated end to end. Scale:
        the term table is the already-materialized TF-IDF long form
        (doc_id, word distinct pairs); the label aggregation shuffles
        (cluster, word, count) rows — zipf-vocabulary bounded — and the
        top-5 window partitions by cluster (k partitions)."""
        from ..operators.kmeans import kmeans_fixedpoint
        from .extensions import _tfidf_weight_e4

        # persist, not localCheckpoint: the lazy-checkpoint handle pays a
        # ~2s plan->RDD conversion at construction; ONE columnar cache
        # serves both the kmeans chain (its lazy output caches nothing of
        # its own — the pass chain reads this cache through a trivial
        # projection) and the labeling join
        w = _tfidf_weight_e4(spark, sf_dir).persist()
        assign = kmeans_fixedpoint(
            w, k=5, n_assign_passes=2, weight_col="weight_e4",
            output="assignments_lazy",  # single consumer — no extra job
        )
        ct = (
            w.join(assign.select("doc_id", "cluster"), "doc_id")
            .groupBy("cluster", "word")
            .agg(F.count("*").alias("n_docs"))
        )
        from pyspark.sql import Window as W

        rnk = F.row_number().over(
            W.partitionBy("cluster").orderBy(F.col("n_docs").desc(), "word")
        )
        out = (
            ct.withColumn("rnk", rnk)
            .filter(F.col("rnk") <= 5)
            .select(
                "cluster",
                "word",
                F.col("n_docs").cast("bigint").alias("n_docs"),
                F.col("rnk").cast("int").alias("rnk"),
            )
            .orderBy("cluster", "rnk")
        )
        # k x 5 label rows — materialize them eagerly so the weights
        # cache releases HERE instead of living for the session (the
        # round-9 verdict's leak; the eager job is the same chain the
        # caller's first action was about to run)
        out = out.localCheckpoint(eager=True)
        w.unpersist()
        return out


_register_cluster_keywords()


# ---------------------------------------------------------------------------
# Incremental IVF index maintenance — append batches to a live store
# (round 8)
# ---------------------------------------------------------------------------
def _register_index_incremental() -> None:
    from .extensions2 import _IVF_NLIST

    k, n_probe, qid = 10, 4, 0

    @query(
        "sim_index_incremental",
        f"""
        WITH seeds AS (
            SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                                AS INT) AS lid
            FROM embeddings WHERE vec_id % 5 <> 0
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_NLIST}),
        cx AS (SELECT s.lid, generate_subscripts(e.embedding, 1) AS i,
                      CAST(unnest(e.embedding) AS DOUBLE) AS c
               FROM embeddings e JOIN seeds s USING (vec_id)),
        c2 AS (SELECT lid, SUM(CAST(ROUND(c * c * {_E8}) AS BIGINT)) AS c2 FROM cx GROUP BY lid),
        ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                      generate_subscripts(embedding, 1) AS i
               FROM embeddings),
        dots AS (SELECT e.vec_id, c.lid, SUM(CAST(ROUND(e.x * c.c * {_E8}) AS BIGINT)) AS dot
                 FROM ex e JOIN cx c USING (i) GROUP BY 1, 2),
        assign AS (SELECT vec_id, lid FROM (
            SELECT d.vec_id, d.lid,
                   ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY c2.c2 - 2 * d.dot, d.lid) AS rn
            FROM dots d JOIN c2 USING (lid)) t WHERE rn = 1),
        probes AS (SELECT lid FROM (
            SELECT q.lid, ROW_NUMBER() OVER (ORDER BY c2.c2 - 2 * q.dot, q.lid) AS rn
            FROM (SELECT lid, dot FROM dots WHERE vec_id = {qid}) q JOIN c2 USING (lid)) t
            WHERE rn <= {n_probe}),
        cand AS (SELECT a.vec_id FROM assign a JOIN probes p USING (lid)),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}),
        qx AS (SELECT CAST(unnest(qv) AS DOUBLE) AS qxv, generate_subscripts(qv, 1) AS i FROM q),
        cex AS (SELECT e.vec_id, e.x, e.i FROM ex e JOIN cand c ON c.vec_id = e.vec_id),
        qdots AS (SELECT vec_id, SUM(CAST(ROUND(x * qxv * {_E8}) AS BIGINT)) AS dot
                  FROM cex JOIN qx USING (i) GROUP BY vec_id),
        nrms AS (SELECT vec_id,
                        SQRT(CAST(SUM(CAST(ROUND(x * x * {_E8}) AS BIGINT)) AS DOUBLE) / {_E8}) AS nrm
                 FROM cex GROUP BY vec_id),
        qn AS (SELECT SQRT(CAST(SUM(CAST(ROUND(qxv * qxv * {_E8}) AS BIGINT)) AS DOUBLE) / {_E8}) AS qnrm
               FROM qx)
        SELECT d.vec_id,
               CAST(ROUND(ROUND((CAST(d.dot AS DOUBLE) / {_E8}) / (n.nrm * qn.qnrm), 6) * 1000000)
                    AS BIGINT) AS score_e6
        FROM qdots d JOIN nrms n USING (vec_id) CROSS JOIN qn
        ORDER BY score_e6 DESC, vec_id LIMIT {k}
        """,
    )
    def sim_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Incremental IVF index MAINTENANCE adjudicated end to end: the
        index is BUILT on the corpus (vec_id % 5 != 0 — seeds drawn from
        corpus only, store written parquet-partitioned by list_id), an
        arriving batch (vec_id % 5 == 0) is assigned with the FROZEN
        centroid table and APPENDED into the store's partition
        directories (similarity.ivf_append_partitioned — existing data
        never rewritten, assignment map-side against the n_list×dim
        closure), and a batch-member query (vec_id {qid}) probes the
        merged store through the partition-pruned path
        (probe_ivf_partitioned). The oracle restates the whole life
        cycle: corpus-only seed draw, frozen-centroid assignment of
        EVERY vector, the query's probe pick, and the exact fixed-point
        re-rank inside the probed lists — so index build, append, and
        serve are all hash-matched. At 100 TB this is how a live ANN
        store absorbs vectors between rebuilds: appends touch only the
        partitions the batch hits, probes keep their n_probe/n_list
        pruning over old and new rows alike."""
        import os
        import tempfile

        from ..operators.similarity import (
            ivf_append_partitioned,
            probe_ivf_partitioned,
            write_ivf_partitioned,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") % 5 != 0)
        batch = emb.filter(F.col("vec_id") % 5 == 0)
        # fixed per-process store, rebuilt per invocation: the corpus
        # write's overwrite mode clears the whole table dir (static
        # partitionOverwriteMode), so bench's re-runs stay bounded at
        # one store copy instead of accumulating mkdtemp dirs in /tmp
        store = os.path.join(
            tempfile.gettempdir(), f"sim_index_incr_{os.getpid()}"
        )
        cents = write_ivf_partitioned(
            corpus, store, n_list=_IVF_NLIST, fixed_point=True
        )
        ivf_append_partitioned(batch, store, cents)
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).head()["embedding"]
        ]
        out = probe_ivf_partitioned(
            spark, store, cents, qvec, k=k, n_probe=n_probe
        )
        return out.select(
            "vec_id", e_int(F.col("score"), 6).alias("score_e6")
        ).orderBy(F.col("score_e6").desc(), "vec_id")


_register_index_incremental()


# ---------------------------------------------------------------------------
# Incremental IVF-PQ index maintenance — frozen-codebook encoding of
# appended batches (round 9: completes sim_index_incremental's flat tier
# with the production store's PQ tier)
# ---------------------------------------------------------------------------
def _register_index_incremental_pq() -> None:
    from .extensions2 import _IVF_NLIST

    k, n_probe, rr, qid = 10, 4, 4, 0
    m, n_codes = _IP_M, _IP_CODES
    d_sub = 64 // m

    sql = f"""
    WITH seeds AS (
        SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                            AS INT) AS sid
        FROM embeddings WHERE vec_id % 5 <> 0
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {max(_IVF_NLIST, n_codes)}),
    cx AS (SELECT s.sid AS lid, generate_subscripts(e.embedding, 1) AS i,
                  CAST(unnest(e.embedding) AS DOUBLE) AS c
           FROM embeddings e JOIN seeds s USING (vec_id) WHERE s.sid < {_IVF_NLIST}),
    c2 AS (SELECT lid, SUM(CAST(ROUND(c * c * {_E8}) AS BIGINT)) AS c2 FROM cx GROUP BY lid),
    ex AS MATERIALIZED (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
    dots AS (SELECT e.vec_id, c.lid, SUM(CAST(ROUND(e.x * c.c * {_E8}) AS BIGINT)) AS dot
             FROM ex e JOIN cx c USING (i) GROUP BY 1, 2),
    assign AS (SELECT vec_id, lid FROM (
        SELECT d.vec_id, d.lid,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY c2.c2 - 2 * d.dot, d.lid) AS rn
        FROM dots d JOIN c2 USING (lid)) t WHERE rn = 1),
    probes AS (SELECT lid FROM (
        SELECT q.lid, ROW_NUMBER() OVER (ORDER BY c2.c2 - 2 * q.dot, q.lid) AS rn
        FROM (SELECT lid, dot FROM dots WHERE vec_id = {qid}) q JOIN c2 USING (lid)) t
        WHERE rn <= {n_probe}),
    cand AS (SELECT a.vec_id FROM assign a JOIN probes p USING (lid)),
    pcx AS MATERIALIZED (
        SELECT s.sid AS c, (generate_subscripts(e.embedding, 1) - 1) // ({d_sub}) AS sub,
               generate_subscripts(e.embedding, 1) AS i,
               CAST(unnest(e.embedding) AS DOUBLE) AS cv
        FROM embeddings e JOIN seeds s USING (vec_id) WHERE s.sid < {n_codes}),
    pc2 AS (SELECT c, sub, SUM(CAST(ROUND(cv * cv * {_E8}) AS BIGINT)) AS c2
            FROM pcx GROUP BY 1, 2),
    cex AS MATERIALIZED (
        SELECT e.vec_id, e.x, e.i, (e.i - 1) // ({d_sub}) AS sub
        FROM ex e JOIN cand USING (vec_id)),
    pdots AS (SELECT e.vec_id, p.c, e.sub,
                     SUM(CAST(ROUND(e.x * p.cv * {_E8}) AS BIGINT)) AS dot
              FROM cex e JOIN pcx p ON p.i = e.i GROUP BY 1, 2, 3),
    codes AS (SELECT vec_id, sub, c FROM (
        SELECT d.vec_id, d.sub, d.c,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.sub
                                  ORDER BY p2.c2 - 2 * d.dot, d.c) AS rn
        FROM pdots d JOIN pc2 p2 ON p2.c = d.c AND p2.sub = d.sub) t WHERE rn = 1),
    qx AS (SELECT (generate_subscripts(embedding, 1) - 1) // ({d_sub}) AS sub,
                  generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS q
           FROM embeddings WHERE vec_id = {qid}),
    q2 AS (SELECT sub, SUM(CAST(ROUND(q * q * {_E8}) AS BIGINT)) AS q2 FROM qx GROUP BY 1),
    qdots AS (SELECT p.c, p.sub, SUM(CAST(ROUND(q.q * p.cv * {_E8}) AS BIGINT)) AS qdot
              FROM qx q JOIN pcx p ON p.i = q.i GROUP BY 1, 2),
    adc AS (SELECT qd.c, qd.sub, q2.q2 + p2.c2 - 2 * qd.qdot AS cell
            FROM qdots qd JOIN q2 USING (sub) JOIN pc2 p2 ON p2.c = qd.c AND p2.sub = qd.sub),
    short AS (SELECT k2.vec_id FROM (
        SELECT k1.vec_id, SUM(a.cell) AS adc_e8
        FROM codes k1 JOIN adc a ON a.sub = k1.sub AND a.c = k1.c GROUP BY 1) k2
        ORDER BY k2.adc_e8, k2.vec_id LIMIT {rr * k}),
    sx AS (SELECT e.vec_id, e.x, e.i FROM ex e JOIN short s ON s.vec_id = e.vec_id),
    sdots AS (SELECT c.vec_id, SUM(CAST(ROUND(c.x * q.q * {_E8}) AS BIGINT)) AS dot
              FROM sx c JOIN qx q USING (i) GROUP BY 1),
    nrms AS (SELECT vec_id,
                    SQRT(CAST(SUM(CAST(ROUND(x * x * {_E8}) AS BIGINT)) AS DOUBLE) / {_E8}) AS nrm
             FROM sx GROUP BY vec_id),
    qn AS (SELECT SQRT(CAST(SUM(CAST(ROUND(q * q * {_E8}) AS BIGINT)) AS DOUBLE) / {_E8}) AS qnrm
           FROM qx)
    SELECT d.vec_id,
           CAST(ROUND(ROUND((CAST(d.dot AS DOUBLE) / {_E8}) / (n.nrm * qn.qnrm), 6) * 1000000)
                AS BIGINT) AS score_e6
    FROM sdots d JOIN nrms n USING (vec_id) CROSS JOIN qn
    ORDER BY score_e6 DESC, vec_id LIMIT {k}
    """

    @query("sim_index_incremental_pq", sql)
    def sim_index_incremental_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Incremental IVF-PQ index maintenance adjudicated end to end —
        the PQ tier sim_index_incremental's flat store left open: the
        production store is BUILT on the corpus (vec_id % 5 != 0;
        md5-min seed draw feeds BOTH the coarse centroids and the PQ
        codebook, rows written parquet-partitioned by list_id with
        their write-time codes), an arriving batch (vec_id % 5 == 0) is
        coarse-assigned with the FROZEN centroid table AND PQ-encoded
        with the FROZEN codebook before appending
        (similarity.ivfpq_append_partitioned — without write-time
        encoding, an append-heavy store degrades to flat scans on the
        appended fraction), and a batch-member query probes the merged
        store through all three tiers (probe_ivfpq_partitioned:
        partition-pruned scan of 4/16 lists, ADC over stored codes to a
        40-row shortlist, exact e8 re-rank). Because both models are
        frozen corpus-seeded closures, append-then-probe is EQUAL BY
        CONSTRUCTION to encode-everything-then-probe — which is exactly
        what the oracle restates (corpus-only seed draw, frozen
        assignment and code argmins for every vector, probe pick, ADC
        cells, shortlist, exact re-rank — every number an e8 int64).
        At 100 TB this is the live production ANN store: appends touch
        only the hit partitions, stay PQ-compressed (m small ints per
        vector on the scan path), and probes keep their n_probe/n_list
        pruning over old and new rows alike; append == rebuild is
        additionally pinned code-level by test."""
        import os
        import tempfile

        from ..operators.similarity import (
            ivfpq_append_partitioned,
            probe_ivfpq_partitioned,
            write_ivfpq_partitioned,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") % 5 != 0)
        batch = emb.filter(F.col("vec_id") % 5 == 0)
        # fixed per-process store, rebuilt per invocation (the corpus
        # write's overwrite clears the dir) — bench re-runs stay bounded
        store = os.path.join(
            tempfile.gettempdir(), f"sim_index_incr_pq_{os.getpid()}"
        )
        ivf_c, pq_c = write_ivfpq_partitioned(
            corpus, store, n_list=_IVF_NLIST, m=m, n_codes=n_codes
        )
        ivfpq_append_partitioned(batch, store, ivf_c, pq_c, m=m)
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).head()["embedding"]
        ]
        out = probe_ivfpq_partitioned(
            spark, store, ivf_c, pq_c, qvec, k=k, rerank_mult=rr,
            n_probe=n_probe, m=m,
        )
        return out.select(
            "vec_id", e_int(F.col("score"), 6).alias("score_e6")
        ).orderBy(F.col("score_e6").desc(), "vec_id")


_register_index_incremental_pq()


# ---------------------------------------------------------------------------
# Incremental BM25 model maintenance + streaming search serving (round 9)
# ---------------------------------------------------------------------------
_BM25_STREAM_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["hash", "join", "spark", "stream"]),  # the ta_bm25_topk query
    (1, ["filter", "group", "sort", "window"]),
    (2, ["table", "query", "scan", "merge"]),
]


def _register_bm25_incremental() -> None:
    from .extensions import _BM25_B, _BM25_K1, _BM25_TERMS, _bm25_oracle_sql

    @query("ta_bm25_incremental", _bm25_oracle_sql())
    def ta_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Incrementally MAINTAINED BM25 model, adjudicated against a
        reindex: the lexical model (postings + per-doc lengths,
        operators/search.bm25_model) is first built on a STALE corpus —
        the doc_id % 5 == 0 documents missing entirely, every
        doc_id % 20 == 3 document carrying placeholder text, and
        PHANTOM documents (every % 20 == 7 doc's text re-keyed past
        max(doc_id)) that the true corpus does not contain — then one
        maintenance batch absorbs arrivals (the % 5 == 0 docs),
        replacements (the % 20 == 3 docs' true text), and DELETIONS
        (the phantom ids) via search.bm25_update_model: anti-join the
        changed+deleted doc_ids' rows out of both tables, union the
        delta's recomputed rows in — the CDC upsert monoid
        (cdc.apply_changes / merge_aggregates), tokenizing ONLY the
        delta. The oracle is the from-scratch BM25 statement over the
        current corpus VERBATIM (ta_bm25_topk's SQL), so "maintained
        model == reindex" is itself the adjudicated claim — df, avgdl,
        N, idf, and the top-20 scores must all come out bit-identical
        through the incremental path; an unexcised phantom doc would
        skew N/avgdl (and df for every term it shares) and shift the
        scores (round-10: deletions added — continuous recrawls drop
        documents as often as they add them). At 100 TB this is how a
        retrieval index absorbs continuous recrawls: per-batch cost is
        the delta's tokenization + two key-pruned merges, never a
        corpus-wide df/avgdl recomputation."""
        from ..operators.search import (
            bm25_model,
            bm25_topk_from_model,
            bm25_update_model,
        )

        from ..io import table_column_max

        docs = load_table(spark, sf_dir, "documents")
        did = F.col("doc_id")
        # id-offset scalar from parquet footer stats (no Spark job);
        # loud Spark fallback for non-parquet/statless inputs
        mx = table_column_max(sf_dir, "documents", "doc_id")
        if mx is None:
            mx = docs.agg(F.max("doc_id")).head()[0]
        off = (mx if mx is not None else -1) + 1  # empty table -> no phantoms
        phantoms = docs.filter(did % 20 == 7).withColumn(
            "doc_id", did + F.lit(int(off))
        )
        stale = (
            docs.filter(did % 5 != 0)
            .withColumn(
                "text",
                F.when(
                    did % 20 == 3, F.lit("stale placeholder text")
                ).otherwise(F.col("text")),
            )
            .unionByName(phantoms)
        )
        delta = docs.filter((did % 5 == 0) | (did % 20 == 3))
        # pin the stale model the way a serving deployment stores it —
        # the update must not silently re-read the true corpus through
        # lineage (checkpoint=True cuts it at the tf plan, so the stale
        # corpus also tokenizes exactly once)
        postings, doclen = bm25_model(stale, checkpoint=True)
        # assume_unique is an honest claim here: delta is ONE filter
        # over the unique-keyed documents table (and %5==0 / %20==3 are
        # disjoint residues anyway), so the duplicate-guard counting
        # job would always pass — skipping it is the documented hot
        # path. The delete-vs-upsert conflict guard still runs.
        postings, doclen = bm25_update_model(
            postings, doclen, delta,
            deleted_ids=phantoms.select("doc_id"), assume_unique=True,
        )
        return bm25_topk_from_model(
            postings, doclen, _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B
        )


_register_bm25_incremental()


def _register_stream_bm25_topk() -> None:
    from .extensions import _bm25_oracle_sql

    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({qid} AS BIGINT) AS query_id, a.doc_id, a.score_e6\n"
        f"FROM ({_bm25_oracle_sql(terms)}) a"
        for qid, terms in _BM25_STREAM_QUERIES
    )
    sql = f"SELECT * FROM ({arms}) u ORDER BY query_id, score_e6 DESC, doc_id"

    @query("stream_bm25_topk", sql)
    def stream_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming lexical-search SERVING, adjudicated against the
        batch oracle per query: three term-bag queries arrive as a
        three-file parquet stream (maxFilesPerTrigger=2 — two separate
        micro-batches, an uneven 2+1 split, so cross-batch invariance
        is still exercised without paying a third micro-batch's fixed
        setup; per-file slicing is pinned by the pytest twin) and each
        micro-batch runs the batched BM25 kernel against the STATIC
        materialized model under foreachBatch (streaming/serving.serve_bm25_topk_foreachbatch →
        operators/search.bm25_topk_many: one pass over the union of the
        batch's posting lists answers every query; df/idf/avgdl are
        query-independent so sharing them is exact). Lexical serving is
        stateless per query, so stream == batch BY CONSTRUCTION and the
        result is invariant to micro-batch slicing (pinned by test).
        The oracle unions the from-scratch single-query BM25 statement
        once per streamed query — every streamed row is hash-matched,
        not just the ta_bm25_topk query's. At 100 TB: the model tables
        are the serving index (maintained under deltas by
        bm25_update_model — the ta_bm25_incremental claim), each
        micro-batch touches only its terms' posting lists, and the
        per-query ranking is a window over candidate rows only."""
        import os
        import shutil
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..operators.search import bm25_model
        from ..streaming.serving import serve_bm25_topk_foreachbatch

        docs = load_table(spark, sf_dir, "documents")
        # checkpoint=True: ONE tokenize pass and ONE doclen aggregation
        # serve every micro-batch (tf is pinned before doclen derives
        # from it, and doclen is pinned before its two consumers)
        postings, doclen = bm25_model(docs, checkpoint=True)
        pa_schema = pa.schema(
            [("query_id", pa.int64()), ("terms", pa.list_(pa.string()))]
        )
        qdir = os.path.join(
            tempfile.gettempdir(), f"stream_bm25_topk_{os.getpid()}"
        )
        shutil.rmtree(qdir, ignore_errors=True)
        os.makedirs(qdir)
        for qid, terms in _BM25_STREAM_QUERIES:
            tbl = pa.table({"query_id": [qid], "terms": [terms]}, schema=pa_schema)
            pq.write_table(tbl, os.path.join(qdir, f"q{qid}.parquet"))
        qstream = (
            spark.readStream.schema("query_id long, terms array<string>")
            .format("parquet")
            .option("maxFilesPerTrigger", "2")
            .option("pathGlobFilter", "*.parquet")
            .load(qdir)
        )
        out = serve_bm25_topk_foreachbatch(
            qstream, postings, doclen, k=20, memory_sink=True
        )
        return out.orderBy("query_id", F.col("score_e6").desc(), "doc_id")


_register_stream_bm25_topk()


# ---------------------------------------------------------------------------
# Feature hashing: engine-side text -> embedding (round-11)
# ---------------------------------------------------------------------------
_FH_DIM = 16


def _feature_hash_oracle_sql() -> str:
    from .extensions import ASCII_TOKEN

    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS toks
      FROM documents
    ), grams AS (
      SELECT doc_id, unnest(toks) AS g FROM toks
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS g
      FROM toks
    ), hv AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % {_FH_DIM} AS INT) AS dim,
             CASE WHEN CAST('0x' || substr(md5(g), 32, 1) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END AS s
      FROM grams
    ), v AS (
      SELECT doc_id, dim, CAST(SUM(s) AS BIGINT) AS vj FROM hv GROUP BY 1, 2
    ), nrm AS (
      SELECT doc_id, CAST(SUM(vj * vj) AS BIGINT) AS s2 FROM v GROUP BY 1
    ), base AS (
      SELECT d.doc_id, CAST(t.i AS INT) AS dim
      FROM documents d CROSS JOIN range({_FH_DIM}) t(i)
    )
    SELECT b.doc_id, b.dim,
           CAST(CASE WHEN COALESCE(n.s2, 0) = 0 THEN 0
                ELSE ROUND(CAST((CAST(COALESCE(v.vj, 0) AS DOUBLE)
                                 / sqrt(CAST(n.s2 AS DOUBLE))) AS DOUBLE)
                           * 1000000) END AS BIGINT) AS value_e6
    FROM base b
    LEFT JOIN v ON v.doc_id = b.doc_id AND v.dim = b.dim
    LEFT JOIN nrm n ON n.doc_id = b.doc_id
    ORDER BY b.doc_id, b.dim
    """


@query("emb_feature_hashing", _feature_hash_oracle_sql())
def emb_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-side text -> embedding via the hashing trick (Weinberger
    et al. 2009): unigram + adjacent-bigram grams hash into a fixed
    {dim}-dim signed count vector (md5 bucket, Achlioptas ±1 parity
    sign), L2-normalized and surfaced long-form as e6 fixed point —
    the one LLM-pipeline stage the registry previously consumed from
    the pre-supplied embeddings table rather than producing itself
    (operators/text_analysis.feature_hash_embed). Stateless by
    construction — no vocabulary table, no fit pass, no broadcast —
    so at 100 TB it is pure scan + one (doc, dim)-keyed partial
    aggregate: the reason the hashing trick IS the web-scale text
    vectorizer. Integer bucket sums and an integer norm make the
    normalized values identical IEEE doubles in both engines, so the
    embedding itself is hash-adjudicated, not just its row count."""
    from ..operators.text_analysis import feature_hash_embed

    docs = load_table(spark, sf_dir, "documents")
    return feature_hash_embed(docs, dim=_FH_DIM).orderBy("doc_id", "dim")
