r"""Extension query surface (SURVEY.md §2.5 + training-data operators):
TF-IDF, dedup family, similarity search, text analysis, K-Means, seq-ids.

Each entry registers into the same QUERIES/ORACLE registries as the
relational surface. Oracle SQL reproduces the Spark plan bit-for-bit:
every hash is md5, every cross-engine float hazard is neutralized by
summing per-element ROUND(x, 8) decimals (exact, order-independent)
before any sqrt/divide, and outputs are ROUND + DECIMAL-cast.

Note on regex dialects: Spark's tokenizer uses (?U)\b\w\w+\b (Java unicode
classes); DuckDB's RE2 has no (?U) (its U means ungreedy), so oracles use
plain \b\w\w+\b — identical behavior on the ASCII-only documents table,
and the unicode delta is covered by the Python-oracle unit tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, table_column_max, table_row_count
from ..operators import dedup as dd
from ..operators import similarity as sim
from ..operators import text_analysis as ta
from ..operators.etl import assign_sequential_ids
from ..functions.text import TOKEN_PATTERN
from ..operators.kmeans import dense_e4_long_form, kmeans_fixedpoint
from ..operators.tfidf import tokens_long
from .relational import ORACLE, QUERIES, e_int, e_int_sql, query

ASCII_TOKEN = r"\b\w\w+\b"
STOP = ta.STOPWORDS_EN  # the/and/of/to/is/in/that/it
_STOP_SQL = "(" + ",".join(f"'{w}'" for w in STOP) + ")"
_STOP_LIST_SQL = "[" + ",".join(f"'{w}'" for w in STOP) + "]"


# ---------------------------------------------------------------------------
# T2: TF-IDF long-form (SURVEY.md §2.2) — hash-matched
# ---------------------------------------------------------------------------
# Shared CTE chain producing w(doc_id, word, w) with w = e4-scaled TF-IDF
# weight as BIGINT — consumed by both the tfidf_longform oracle and the
# kmeans_documents oracle (the fixed-point Lloyd loop runs on exactly the
# same integers the tfidf entry surfaces).
_TFIDF_W_CTES = rf"""
    toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS word
        FROM documents),
    filt AS (SELECT doc_id, word FROM toks WHERE word NOT IN {_STOP_SQL}),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM filt GROUP BY 1, 2),
    dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM filt GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    v AS (SELECT t.doc_id, t.word,
                 t.tf * (LN((n.n + 1.0) / (d.df + 1.0)) + 1.0) AS v
          FROM tf t JOIN dfreq d USING (word) CROSS JOIN n),
    nrm AS (SELECT doc_id,
                   SQRT(CAST(SUM(CAST(ROUND(v * v, 8) AS DECIMAL(30,8))) AS DOUBLE)) AS nrm
            FROM v GROUP BY doc_id),
    w AS (SELECT v.doc_id, v.word,
                 CAST(ROUND((v.v / nrm.nrm) * 10000) AS BIGINT) AS w
          FROM v JOIN nrm USING (doc_id))
"""


def _tfidf_weight_e4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word, weight_e4) — e4-scaled L2-normalized smoothed TF-IDF
    (reference pipeline T2, ReducerExtractFeatureTFIDF.java:54-80) with an
    order-independent decimal-summed L2 norm so the integers are
    engine-exact. Spark twin of ``_TFIDF_W_CTES``."""
    docs = load_table(spark, sf_dir, "documents")
    # N from the parquet footers (driver-side, no Spark job) — the
    # reference's counter + WebHDFS side file (O12/O14) for free.
    n_docs = table_row_count(sf_dir, "documents")
    if n_docs is None:  # non-parquet catalog — pay the count job
        n_docs = docs.count()
    toks = tokens_long(docs, stopwords=STOP)
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    # df = #docs containing the word = tf's group count per word — derived
    # from tf rather than re-aggregating toks, so the expensive
    # tokenization feeds ONE exchange and Catalyst's ReusedExchange serves
    # the second aggregate from the same shuffle files
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = (F.log((F.lit(n_docs) + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)).alias(
        "idf"
    )
    v = tf.join(F.broadcast(dfreq.select("word", idf)), "word").withColumn(
        "v", F.col("tf") * F.col("idf")
    )
    # L2 norm as an unbounded window over the doc partition — one
    # shuffle by doc_id instead of a groupBy + join back (bit-equal:
    # same order-independent decimal sum; measured 1.70 -> 1.46s at
    # sf0.1 for the chain's materialization). Rows per doc are bounded
    # by the vocabulary, so the window partition cannot skew.
    wn = Window.partitionBy("doc_id")
    nrm = F.sqrt(
        F.sum(F.round(F.col("v") * F.col("v"), 8).cast("decimal(30,8)"))
        .over(wn)
        .cast("double")
    ).alias("nrm")
    return v.withColumn("nrm", nrm).select(
        "doc_id", "word", e_int(F.col("v") / F.col("nrm")).alias("weight_e4")
    )


@query(
    "tfidf_longform",
    f"""
    WITH {_TFIDF_W_CTES}
    SELECT doc_id, word, w AS weight_e4 FROM w ORDER BY doc_id, word
    """,
)
def tfidf_longform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF over documents, surfaced as e4-scaled integers."""
    return _tfidf_weight_e4(spark, sf_dir).orderBy("doc_id", "word")


# ---------------------------------------------------------------------------
# D2: MinHash + LSH near-dedup — hash-matched end to end
# ---------------------------------------------------------------------------
@query(
    "dedup_minhash",
    rf"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS shingle
        FROM documents),
    hx AS (SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || shingle)) AS sig
           FROM sh CROSS JOIN range(16) r(i) GROUP BY doc_id, i),
    bands AS (SELECT doc_id, i // 4 AS band,
                     md5(string_agg(sig, ',' ORDER BY i)) AS band_hash
              FROM hx GROUP BY doc_id, i // 4),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ov AS (SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, COUNT(*) AS o
           FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
           GROUP BY 1, 2),
    j AS (SELECT c.id_a, c.id_b, ov.o * 1.0 / (x.n + y.n - ov.o) AS jac
          FROM cand c JOIN ov USING (id_a, id_b)
          JOIN sizes x ON x.doc_id = c.id_a JOIN sizes y ON y.doc_id = c.id_b)
    SELECT id_a, id_b,
           {e_int_sql('jac')} AS jaccard_e4
    FROM j WHERE jac >= 0.8 ORDER BY id_a, id_b
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shingle -> 16 md5-min signatures -> 4x4 LSH bands -> bucket join ->
    exact-Jaccard verify at 0.8 (operators/dedup.py D2)."""
    docs = load_table(spark, sf_dir, "documents")
    out = dd.minhash_near_dups(docs, threshold=0.8, num_hashes=16, rows_per_band=4)
    return out.select(
        "id_a", "id_b", e_int(F.col("jaccard")).alias("jaccard_e4")
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# n-gram Jaccard all-pairs (the verify kernel as its own operator)
# ---------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    rf"""
    WITH toks AS (
        SELECT doc_id, w, i FROM (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS w,
                   generate_subscripts(regexp_extract_all(lower(text), '{ASCII_TOKEN}'), 1) AS i
            FROM documents) t),
    sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w AS shingle
           FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ov AS (SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, COUNT(*) AS o
           FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
           GROUP BY 1, 2)
    SELECT id_a, id_b,
           {e_int_sql('o * 1.0 / (x.n + y.n - o)')} AS jaccard_e4
    FROM ov JOIN sizes x ON x.doc_id = id_a JOIN sizes y ON y.doc_id = id_b
    WHERE o * 1.0 / (x.n + y.n - o) >= 0.3
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard >= 0.3 over all pairs sharing a shingle."""
    docs = load_table(spark, sf_dir, "documents")
    out = dd.ngram_near_dups(docs, threshold=0.3, shingle_size=2)
    return out.select(
        "id_a", "id_b", e_int(F.col("jaccard")).alias("jaccard_e4")
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (Bayardo/AllPairs family) — the
# LOSSLESS exact-Jaccard candidate mechanism, adjudicated. The oracle is
# brute-force exact Jaccard: prefix filtering must return exactly those
# pairs (losslessness is also property-tested in test_prefix_filter.py).
# ---------------------------------------------------------------------------
@query(
    "dedup_prefix_jaccard",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS w,
               generate_subscripts(regexp_extract_all(lower(text), '{ASCII_TOKEN}'), 1) AS i
        FROM documents),
    sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
           FROM toks a
           JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
           JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ov AS (SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, COUNT(*) AS o
           FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
           GROUP BY 1, 2),
    j AS (SELECT id_a, id_b, o * 1.0 / (x.n + y.n - o) AS jac
          FROM ov JOIN sizes x ON x.doc_id = id_a JOIN sizes y ON y.doc_id = id_b
          WHERE o * 1.0 / (x.n + y.n - o) >= 0.8),
    sym AS (SELECT id_a AS doc_id, jac FROM j
            UNION ALL SELECT id_b AS doc_id, jac FROM j)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
           {e_int_sql('MAX(jac)')} AS max_jaccard_e4
    FROM sym GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-TRIGRAM Jaccard >= 0.8 via PREFIX-FILTERED candidates
    (operators/dedup.prefix_candidates — the Bayardo et al. all-pairs /
    SSJoin mechanism): order each set rarest-shingle-first, keep only
    the (1-t)|A|+1 prefix, and join prefixes instead of full sets — any
    qualifying pair MUST collide inside both prefixes, so the candidate
    cut is lossless while excluding the hot shingles that dominate
    candidate work; the exact verify (dedup.jaccard_pairs) runs inside
    candidates only. The oracle is BRUTE-FORCE exact Jaccard with no
    prefix anywhere, so losslessness is adjudicated, not just
    property-tested (test_prefix_filter.py).

    TRIGRAM shingles are the deliberate corpus match (rounds 1-7 ran
    unigrams on a doc_id % m audit slice): the synthetic corpus has a
    31-word uniform vocabulary, so its unigram space is degenerate —
    every shingle hot, random doc pairs at J≈0.87, 2.6M qualifying
    pairs at sf0.1 — exactly the shape where prefix filtering LOSES
    (measured 2-7x behind brute force; jaccard_near_dups_auto now
    routes such corpora to the LSH cascade). The trigram space over the
    same corpus is long-tail (median df 9 at sf0.1, planted dups at
    J≈0.99 with the next pair below 0.4) — the distribution real text
    has, where the rarest-first prefix prunes candidate work by orders
    of magnitude while brute force pays Σ C(df,2) over every shared
    shingle. Per-DOC verdicts (n_dups, max_jaccard) keep the output
    linear, the same shape dedup_group_keep/dedup_incremental
    adjudicate. At 100 TB this is the high-threshold EXACT companion to
    MinHash-LSH: no probabilistic recall, prefixes shrinking as the
    threshold rises (zipf corpus, 25k docs, t=0.9: 6.4s vs the LSH
    cascade's 13.3s, identical pairs, recall 1.0 — SCALING.md round-6
    table, reproduced by tools/prefix_vs_lsh.py).

    SELF-ROUTING (round 9): the entry runs dedup.jaccard_near_dups_auto,
    so the prefix join only executes after the profile's exact
    Σ C(prefix_df, 2) count says it is within 30·n_docs — on corpora
    where the shingle space saturates (the synthetic generator's
    31-word vocabulary fills its 31³ trigram space somewhere past
    sf0.5, and Σ C(df,2) then grows n²/|vocab| — the measured
    2.7s→65s blowup in SCALING.md round 8) the candidates come from
    the LSH cascade instead, restoring a near-linear curve. At every
    adjudicated scale (sf0.001–0.1) the trigram space is long-tail,
    the profile picks 'prefix', and the output is the lossless exact
    join the brute-force oracle restates; on LSH-routed corpora recall
    is probabilistic in principle but this fixture's nearest
    non-duplicate pair sits below J=0.4 against a t=0.8 gate, far
    outside any banding miss window (16 hashes / 4 rows per band).
    Cost shape: the shingle table checkpoints once; the prefix window
    deliberately re-runs per action (cheaper than checkpointing it —
    measured in jaccard_near_dups_auto's docstring), so self-routing
    costs one ~1s counting action over the unconditional join.

    bitmap_max_vocab=0: the trigram space grows with the corpus (27k
    distinct at sf0.1), so probing for a dense <=4096-bit dictionary
    is a guaranteed-wasted job; verify through the set-array kernel
    instead (docs are short — bounded distinct trigrams per doc)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs, _prof = dd.jaccard_near_dups_auto(
        docs,
        threshold=0.8,
        shingle_size=3,
        bitmap_max_vocab=0,
        verify_max_tokens=4096,
    )
    sym = pairs.select(F.col("id_a").alias("doc_id"), "jaccard").unionByName(
        pairs.select(F.col("id_b").alias("doc_id"), "jaccard")
    )
    return (
        sym.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_dups"),
            e_int(F.max("jaccard")).alias("max_jaccard_e4"),
        )
        .orderBy("doc_id")
    )


# SimHash near-dup pairs — hash-matched (exact integer bit math)
# ---------------------------------------------------------------------------
@query(
    "dedup_simhash",
    rf"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS t
        FROM documents),
    h AS (SELECT doc_id, md5(t) AS hh FROM toks),
    lanes AS (
        SELECT doc_id, p.part,
               CAST('0x' || CASE WHEN p.part = 'hi' THEN substr(hh, 1, 8)
                                 ELSE substr(hh, 9, 8) END AS BIGINT) AS lane
        FROM h CROSS JOIN (VALUES ('hi'), ('lo')) p(part)),
    bitsv AS (
        SELECT doc_id, part, b,
               SUM(CASE WHEN (lane // CAST(pow(2, b) AS BIGINT)) % 2 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM lanes CROSS JOIN range(32) r(b) GROUP BY 1, 2, 3),
    sigs AS (SELECT doc_id, part,
                    SUM(CASE WHEN v > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS sig
             FROM bitsv GROUP BY 1, 2),
    wide AS (SELECT doc_id,
                    MAX(CASE WHEN part = 'hi' THEN sig END) AS sim_hi,
                    MAX(CASE WHEN part = 'lo' THEN sig END) AS sim_lo
             FROM sigs GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) AS INTEGER) AS hamming
    FROM wide a JOIN wide b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) <= 8
    ORDER BY id_a, id_b
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash pairs within Hamming distance 8."""
    docs = load_table(spark, sf_dir, "documents")
    # the operator pins the signature table itself (pin_signatures=True
    # default): the round-11 stage profile showed the old
    # ReusedExchange assumption did NOT hold — the tokenize+simhash
    # chain ran once per join side
    sig = dd.simhash64(docs)
    return dd.simhash_near_dups(sig, max_hamming=8).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# S1: brute-force cosine top-k — hash-matched
# ---------------------------------------------------------------------------
_SIM_ORACLE = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ex AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    qx AS (SELECT unnest(qv) AS qxv, generate_subscripts(qv, 1) AS i FROM q),
    dots AS (SELECT vec_id,
                    SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(qxv AS DOUBLE) * 100000000.0) AS BIGINT)) AS dot
             FROM ex JOIN qx USING (i) GROUP BY vec_id),
    nrms AS (SELECT vec_id,
                    SQRT(CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 100000000.0) AS BIGINT)) AS DOUBLE) / 100000000.0) AS nrm
             FROM ex GROUP BY vec_id),
    qn AS (SELECT SQRT(CAST(SUM(CAST(ROUND(CAST(qxv AS DOUBLE) * CAST(qxv AS DOUBLE) * 100000000.0) AS BIGINT)) AS DOUBLE) / 100000000.0) AS qnrm
           FROM qx)
    SELECT d.vec_id,
           CAST(ROUND(ROUND((CAST(d.dot AS DOUBLE) / 100000000.0) / (n.nrm * qn.qnrm), 6) * 1000000) AS BIGINT) AS score_e6
    FROM dots d JOIN nrms n USING (vec_id) CROSS JOIN qn
    ORDER BY score_e6 DESC, vec_id LIMIT 10
"""


@query("sim_topk_cosine", _SIM_ORACLE)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 to the vec_id=0 embedding (ties: vec_id asc)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    out = sim.topk_cosine(emb, qvec, k=10)
    return out.select("vec_id", e_int(F.col("score"), 6).alias("score_e6"))


_LSH_ORACLE = """
    WITH planes AS (SELECT p FROM range(4) t(p)),
    dims AS (SELECT i FROM range(64) t(i)),
    signs AS (
        SELECT p, i,
               CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 32, 1) AS INTEGER) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS s
        FROM planes CROSS JOIN dims),
    ex AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) - 1 AS i
           FROM embeddings),
    proj AS (SELECT e.vec_id, sg.p,
                    SUM(CAST(ROUND(CAST(e.x AS DOUBLE) * sg.s * 100000000.0) AS BIGINT)) AS pr
             FROM ex e JOIN signs sg ON sg.i = e.i GROUP BY 1, 2),
    buckets AS (SELECT vec_id,
                       CAST(SUM(CASE WHEN pr > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS INTEGER) AS bucket
                FROM proj GROUP BY vec_id),
    qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
    cand AS (SELECT b.vec_id FROM buckets b CROSS JOIN qb WHERE b.bucket = qb.qbucket),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qx AS (SELECT unnest(qv) AS qxv, generate_subscripts(qv, 1) AS i FROM q),
    cex AS (SELECT e.vec_id, e.x, e.i + 1 AS i FROM ex e JOIN cand c ON c.vec_id = e.vec_id),
    dots AS (SELECT vec_id,
                    SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(qxv AS DOUBLE) * 100000000.0) AS BIGINT)) AS dot
             FROM cex JOIN qx USING (i) GROUP BY vec_id),
    nrms AS (SELECT vec_id,
                    SQRT(CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 100000000.0) AS BIGINT)) AS DOUBLE) / 100000000.0) AS nrm
             FROM cex GROUP BY vec_id),
    qn AS (SELECT SQRT(CAST(SUM(CAST(ROUND(CAST(qxv AS DOUBLE) * CAST(qxv AS DOUBLE) * 100000000.0) AS BIGINT)) AS DOUBLE) / 100000000.0) AS qnrm
           FROM qx)
    SELECT d.vec_id,
           CAST(ROUND(ROUND((CAST(d.dot AS DOUBLE) / 100000000.0) / (n.nrm * qn.qnrm), 6) * 1000000) AS BIGINT) AS score_e6
    FROM dots d JOIN nrms n USING (vec_id) CROSS JOIN qn
    ORDER BY score_e6 DESC, vec_id LIMIT 10
"""


@query("sim_topk_lsh", _LSH_ORACLE)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH-bucketed approximate top-10 (scale path for S1) —
    hash-matched end to end: the md5-parity hyperplanes and fixed-point
    projections make bucket assignment engine-exact, so even the
    approximate path is oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    out = sim.lsh_topk_cosine(emb, qvec, k=10, n_planes=4)
    return out.select("vec_id", e_int(F.col("score"), 6).alias("score_e6"))


# ---------------------------------------------------------------------------
# Embedding cosine near-dup pairs — hash-matched
# ---------------------------------------------------------------------------
@query(
    "dedup_embedding_cosine",
    """
    WITH base AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
                  FROM embeddings),
    off AS (SELECT MAX(vec_id) + 1 AS o FROM base),
    twins AS (SELECT vec_id + (SELECT o FROM off) AS vec_id,
                     list_transform(embedding, x -> x * CAST(1.02 AS DOUBLE)) AS embedding
              FROM base WHERE vec_id % 20 = 0),
    emb AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
    np AS (SELECT CASE WHEN COUNT(*) <= 64 THEN 4
                       ELSE GREATEST(4, CAST(CEIL(LOG2(COUNT(*) / 64.0)) AS INT))
                       END AS p
                FROM emb),
    planes AS (SELECT t.i AS p FROM range(64) t(i), np WHERE t.i < np.p),
    dims AS (SELECT i FROM range(64) t(i)),
    signs AS (
        SELECT p, i,
               CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 32, 1) AS INTEGER) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS s
        FROM planes CROSS JOIN dims),
    ex0 AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) - 1 AS i
            FROM emb),
    proj AS (SELECT e.vec_id, sg.p,
                    SUM(CAST(ROUND(CAST(e.x AS DOUBLE) * sg.s * 100000000.0) AS BIGINT)) AS pr
             FROM ex0 e JOIN signs sg ON sg.i = e.i GROUP BY 1, 2),
    buckets AS (SELECT vec_id,
                       CAST(SUM(CASE WHEN pr > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
                FROM proj GROUP BY vec_id),
    cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
             FROM buckets a JOIN buckets b ON a.vec_id < b.vec_id
             WHERE bit_count(xor(a.bucket, b.bucket)) <= 1),
    ex AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
           FROM emb),
    dots AS (SELECT c.id_a, c.id_b,
                    SUM(CAST(ROUND(CAST(xa.x AS DOUBLE) * CAST(xb.x AS DOUBLE) * 100000000.0) AS BIGINT)) AS dot
             FROM cand c
             JOIN ex xa ON xa.vec_id = c.id_a
             JOIN ex xb ON xb.vec_id = c.id_b AND xb.i = xa.i
             GROUP BY 1, 2),
    nrms AS (SELECT vec_id,
                    SQRT(CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 100000000.0) AS BIGINT)) AS DOUBLE) / 100000000.0) AS nrm
             FROM ex GROUP BY vec_id)
    SELECT d.id_a, d.id_b,
           CAST(ROUND(ROUND((CAST(d.dot AS DOUBLE) / 100000000.0) / (na.nrm * nb.nrm), 6) * 1000000) AS BIGINT) AS cosine_e6
    FROM dots d JOIN nrms na ON na.vec_id = d.id_a JOIN nrms nb ON nb.vec_id = d.id_b
    WHERE ROUND((CAST(d.dot AS DOUBLE) / 100000000.0) / (na.nrm * nb.nrm), 6) >= 0.95
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs at cosine >= 0.95 via the bucketed
    hyperplane-LSH path (md5-parity planes, Hamming-1 multi-probe) —
    the 100 TB shape: candidates come from an equi-join on the probed
    bucket, the exact fixed-point kernel runs inside candidates only,
    and the plane count GROWS with the corpus: BOTH sides derive
    planes = max(4, ceil(log2(n/64))) from one COUNT (n_planes="auto"
    here; the identical rule inline in the oracle SQL's np CTE), so the
    adjudicated artifact is the scale-safe form (a fixed plane count is
    the measured quadratic cliff: 47.8s vs 17.0s at sf1.0, SCALING.md).
    The oracle reproduces the SAME buckets (deterministic hyperplanes),
    so even the approximate path is hash-matched; recall vs the all-pairs
    kernel is pinned in tests/test_dedup_similarity.py.

    The synthetic table has no dedup-grade pairs (max pairwise cosine
    0.51), so both sides plant deterministic twins — every 20th vector
    rescaled by 1.02 under vec_id + (max(vec_id)+1), cosine 1.0 with its
    base by construction — making the adjudicated output NON-EMPTY: the
    hash match exercises bucketing, candidate join, and the exact kernel
    on real qualifying pairs instead of vacuously agreeing on zero rows.
    The offset is data-derived (not a fixed constant) so twin ids can
    never collide with real ids at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    _mx = table_column_max(sf_dir, "embeddings", "vec_id")
    if _mx is None:
        _mx = emb.agg(F.max("vec_id")).head()[0]
    off = _mx + 1
    twins = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + F.lit(int(off))).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.02)).alias("embedding"),
    )
    out = sim.embedding_near_dups(
        emb.unionByName(twins), threshold=0.95, n_planes="auto"
    )
    return out.select(
        "id_a", "id_b", e_int(F.col("cosine"), 6).alias("cosine_e6")
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# BM25 full-text ranking — hash-matched
# ---------------------------------------------------------------------------
_BM25_TERMS = ["hash", "join", "spark", "stream"]
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle_sql(terms_list: list[str] | None = None, k: int = 20) -> str:
    """The from-scratch BM25 statement over ``documents``, with the term
    set and k parameterized: the ta_bm25_topk artifact (defaults), the
    ta_bm25_incremental oracle (an incrementally maintained model must
    equal a reindex, so the oracle IS this statement verbatim), and the
    per-query arm of stream_bm25_topk's union."""
    terms = ", ".join(f"'{t}'" for t in (terms_list or _BM25_TERMS))
    # literals via repr of the SAME python-computed doubles the Spark plan
    # embeds — repr round-trips, so both engines parse identical IEEE bits
    k1, k1p1, one_minus_b, b = (
        repr(_BM25_K1), repr(_BM25_K1 + 1.0), repr(1.0 - _BM25_B), repr(_BM25_B)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS word
        FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    nn AS (SELECT COUNT(*) AS n FROM documents),
    av AS (SELECT CAST((SELECT SUM(dl) FROM dl) AS DOUBLE)
                  / CAST((SELECT n FROM nn) AS DOUBLE) AS avgdl),
    qtf AS (SELECT * FROM tf WHERE word IN ({terms})),
    dfreq AS (SELECT word, COUNT(*) AS df FROM qtf GROUP BY 1),
    model AS (SELECT word,
                     CAST(ROUND(LN(1.0 + (CAST(nn.n AS DOUBLE) - df + 0.5) / (df + 0.5)), 8)
                          AS DECIMAL(18,8)) AS idf
              FROM dfreq CROSS JOIN nn),
    part AS (SELECT q.doc_id,
                    CAST(ROUND(CAST(m.idf AS DOUBLE) * (q.tf * {k1p1})
                               / (q.tf + {k1} * ({one_minus_b} + {b} * (CAST(d.dl AS DOUBLE) / av.avgdl))), 8)
                         AS DECIMAL(18,8)) AS p
             FROM qtf q JOIN model m USING (word) JOIN dl d USING (doc_id) CROSS JOIN av)
    SELECT doc_id, {e_int_sql('SUM(p)', 6)} AS score_e6
    FROM part GROUP BY doc_id
    ORDER BY score_e6 DESC, doc_id LIMIT {k}
    """


@query("ta_bm25_topk", _bm25_oracle_sql())
def ta_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for the query {hash, join, spark, stream}
    (operators/search.bm25_topk) — the lexical-search twin of the
    embedding similarity entries; scoring touches only the query terms'
    postings via a broadcast model join."""
    from ..operators.search import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B)


# ---------------------------------------------------------------------------
# Random projection (JL dimensionality reduction) — hash-matched
# ---------------------------------------------------------------------------
@query(
    "emb_random_projection",
    """
    WITH planes AS (SELECT p FROM range(8) t(p)),
    dims AS (SELECT i FROM range(64) t(i)),
    signs AS (
        SELECT p, i,
               CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 32, 1) AS INTEGER) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS s
        FROM planes CROSS JOIN dims),
    ex AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) - 1 AS i
           FROM embeddings)
    SELECT e.vec_id, CAST(sg.p AS INTEGER) AS p,
           CAST(SUM(CAST(ROUND(CAST(e.x AS DOUBLE) * sg.s * 100000000.0) AS BIGINT)) AS BIGINT) AS proj_e8
    FROM ex e JOIN signs sg ON sg.i = e.i
    GROUP BY 1, 2 ORDER BY vec_id, p
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-dim embeddings compressed to 8 deterministic ±1 projections
    (operators/similarity.random_projection — md5-parity Achlioptas
    signs, fixed-point folds), surfaced long-form. The LSH bucket's bit
    p is exactly sign(proj p), making the compressed table the exact
    precursor of the similarity index."""
    emb = load_table(spark, sf_dir, "embeddings")
    wide = sim.random_projection(emb, dim=64, out_dim=8)
    return wide.select(
        "vec_id", F.posexplode("proj_e8").alias("p", "proj_e8")
    ).select(
        "vec_id", F.col("p").cast("int").alias("p"), F.col("proj_e8")
    ).orderBy("vec_id", "p")


# ---------------------------------------------------------------------------
# Text analysis family — hash-matched
# ---------------------------------------------------------------------------
@query(
    "ta_token_stats",
    rf"""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(LEN(regexp_extract_all(text, '{ta.BPE_ISH_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
           CAST(LEN(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS BIGINT) AS n_words
    FROM documents ORDER BY doc_id
    """,
)
def ta_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ta.token_stats(docs).orderBy("doc_id")


@query(
    "ta_quality",
    rf"""
    WITH f AS (
        SELECT doc_id,
               CAST(LENGTH(text) AS DOUBLE) AS n_chars,
               CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
               CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) AS n_punct,
               regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS toks
        FROM documents),
    g AS (
        SELECT doc_id, n_chars, n_alpha, n_punct,
               CAST(LEN(toks) AS DOUBLE) AS n_words,
               CAST(LEN(list_filter(toks, t -> list_contains({_STOP_LIST_SQL}, t))) AS DOUBLE) AS n_stop,
               CAST(list_sum(list_transform(toks, t -> LENGTH(t))) AS DOUBLE) AS sum_len
        FROM f),
    r AS (
        SELECT doc_id,
               CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
               CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
               CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END AS stop_ratio,
               CASE WHEN n_words > 0 THEN sum_len / n_words ELSE 0.0 END AS mean_word_len,
               LEAST(n_words / 20.0, 1.0) AS len_score,
               n_words
        FROM g)
    SELECT doc_id,
           {e_int_sql('alpha_ratio')} AS alpha_ratio_e4,
           {e_int_sql('punct_ratio')} AS punct_ratio_e4,
           {e_int_sql('stop_ratio')} AS stop_ratio_e4,
           {e_int_sql('mean_word_len')} AS mean_word_len_e4,
           {e_int_sql('''0.3 * len_score
               + 0.25 * alpha_ratio
               + 0.2 * (1.0 - LEAST(punct_ratio * 4, 1.0))
               + 0.15 * LEAST(stop_ratio * 3, 1.0)
               + 0.1 * (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 1.0 ELSE 0.5 END)''')} AS quality_e4
    FROM r ORDER BY doc_id
    """,
)
def ta_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = ta.quality_score(docs)
    # quality_score emits round_exact_double values (k/10^4 nearest
    # doubles), so the e_int scaling recovers the integer k exactly
    return q.select(
        "doc_id",
        *[
            e_int(F.col(c)).alias(f"{c}_e4")
            for c in ["alpha_ratio", "punct_ratio", "stop_ratio", "mean_word_len", "quality"]
        ],
    ).orderBy("doc_id")


def _markers_sql(lang: str) -> str:
    return "[" + ",".join(f"'{w}'" for w in ta.LANG_MARKERS[lang]) + "]"


@query(
    "ta_langid",
    rf"""
    WITH f AS (
        SELECT doc_id, text, regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS toks
        FROM documents),
    s AS (
        SELECT doc_id, text, CAST(LEN(toks) AS DOUBLE) AS n_words,
               LEN(list_filter(toks, t -> list_contains({_markers_sql('en')}, t))) AS s_en,
               LEN(list_filter(toks, t -> list_contains({_markers_sql('es')}, t))) AS s_es,
               LEN(list_filter(toks, t -> list_contains({_markers_sql('de')}, t))) AS s_de,
               LEN(list_filter(toks, t -> list_contains({_markers_sql('fr')}, t))) AS s_fr,
               LENGTH(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_cjk
        FROM f),
    b AS (SELECT *, GREATEST(s_en, s_es, s_de, s_fr) AS best FROM s)
    SELECT doc_id,
           CASE WHEN n_cjk * 2 > LENGTH(text) THEN 'zh'
                WHEN best <= 0 THEN 'und'
                WHEN s_de = best THEN 'de'
                WHEN s_en = best THEN 'en'
                WHEN s_es = best THEN 'es'
                ELSE 'fr' END AS lang_pred,
           {e_int_sql('CASE WHEN n_words > 0 THEN best / n_words ELSE 0.0 END')} AS lang_score_e4
    FROM b ORDER BY doc_id
    """,
)
def ta_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = ta.lang_id(docs)
    return out.select(
        "doc_id", "lang_pred", e_int(F.col("lang_score")).alias("lang_score_e4")
    ).orderBy("doc_id")


@query(
    "ta_fingerprint",
    rf"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               regexp_extract_all(lower(text), '{ASCII_TOKEN}'))), ' ')) AS fp
    FROM documents ORDER BY doc_id
    """,
)
def ta_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ta.fingerprint(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Document chunking — fixed-size token windows (training-data prep)
# ---------------------------------------------------------------------------
@query(
    "ta_chunking",
    rf"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS t
        FROM documents),
    chunks AS (
        SELECT doc_id,
               CAST(i AS INTEGER) AS chunk_idx,
               array_to_string(list_slice(t, i * 32 + 1, (i + 1) * 32), ' ') AS chunk
        FROM toks, UNNEST(range(CAST(CEIL(LEN(t) / 32.0) AS BIGINT))) r(i))
    SELECT doc_id, chunk_idx, md5(chunk) AS chunk_hash,
           CAST(LEN(string_split(chunk, ' ')) AS BIGINT) AS n_tokens
    FROM chunks WHERE chunk <> '' ORDER BY doc_id, chunk_idx
    """,
)
def ta_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into 32-token chunks (the standard pre-training
    windowing op). Chunk text surfaces as md5 so shuffle rows stay narrow;
    the chunk explosion happens executor-side off the token array."""
    from ..functions.text import tokenize_col

    docs = load_table(spark, sf_dir, "documents")
    # engine-consistent (unicode) tokenizer — matches tfidf/dedup; the
    # oracle's ASCII pattern is identical on this ASCII-only table
    toks = docs.select("doc_id", tokenize_col("text").alias("t"))
    k = 32
    # guard: token-less docs would make sequence(0,-1) count DOWN and
    # emit junk chunk indices (same hazard as dedup.shingles)
    idx = F.when(
        F.size("t") > 0,
        F.sequence(F.lit(0), F.ceil(F.size("t") / k).cast("int") - 1),
    ).otherwise(F.array().cast("array<int>"))
    chunks = toks.select(
        "doc_id",
        F.explode(idx).alias("chunk_idx"),
        F.col("t"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.array_join(F.slice("t", F.col("chunk_idx") * k + 1, k), " ").alias("chunk"),
    )
    return (
        chunks.filter(F.col("chunk") != "")
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.md5("chunk").alias("chunk_hash"),
            F.size(F.split(F.col("chunk"), " ")).cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# Semi-structured field extraction (events.props JSON-ish payload)
# ---------------------------------------------------------------------------
@query(
    "q39_props_extract",
    r"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS k_total,
           CAST(MAX(TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS k_max
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q39_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex field extraction from a semi-structured string payload +
    aggregation — the scan-side flattening step of any log pipeline."""
    e = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r"[0-9]+", 0).cast("bigint")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(k).cast("bigint").alias("k_total"),
            F.max(k).cast("bigint").alias("k_max"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Cross-corpus dedup (anti-join by content digest)
# ---------------------------------------------------------------------------
@query(
    "dedup_cross_corpus",
    """
    SELECT d.doc_id FROM documents d
    WHERE NOT EXISTS (
        SELECT 1 FROM documents e
        WHERE e.doc_id % 10 = 0 AND md5(e.text) = md5(d.text))
    ORDER BY d.doc_id
    """,
)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch vs existing-corpus dedup: keep documents whose content
    digest does NOT appear in the reference corpus (here: the doc_id%10
    sample standing in for 'already ingested'). LEFT ANTI on the 16-byte
    digest — the shuffle carries hashes, never text; with a bucketed
    digest table the anti-join is shuffle-free."""
    d = load_table(spark, sf_dir, "documents")
    existing = d.filter(F.col("doc_id") % 10 == 0).select(F.md5("text").alias("h"))
    return (
        d.select("doc_id", F.md5("text").alias("h"))
        .join(existing, "h", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sequential id assignment (O10/O11) vs ROW_NUMBER oracle
# ---------------------------------------------------------------------------
@query(
    "etl_sequential_ids",
    """
    SELECT o_orderkey,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS seq_id
    FROM orders ORDER BY o_orderkey
    """,
)
def etl_sequential_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's single-reducer counter (ReducerExtractTransform.java:
    34-48) as a range-partitioned two-phase rank — same result as a global
    ROW_NUMBER, no single-partition bottleneck."""
    o = load_table(spark, sf_dir, "orders")
    out = assign_sequential_ids(
        o.select("o_orderkey", "o_orderdate"), ["o_orderdate", "o_orderkey"], id_col="seq_id"
    )
    return out.select("o_orderkey", F.col("seq_id").cast("bigint").alias("seq_id")).orderBy(
        "o_orderkey"
    )


# ---------------------------------------------------------------------------
# T3: K-Means cluster summary — hash-matched: the fixed-point Lloyd loop
# (operators/kmeans.kmeans_fixedpoint) is pure int64 arithmetic, so the
# DuckDB oracle below unrolls the same two assignment passes exactly.
# The RNG-seeded reference-parity path (operators/kmeans.kmeans — App.java:
# 122-145, MapperKMean.java:83-108, ReducerKMean.java:31-60) stays the CLI
# default and is pinned against the Python oracle in tests/test_kmeans.py;
# no SQL engine can replay its seeded draw, hence this md5-init twin for
# the cross-engine gate.
# ---------------------------------------------------------------------------
# The kmeans_documents CTE chain up to the final assignment pass (a2) —
# shared verbatim with ta_cluster_keywords, whose oracle extends the
# same clustering with per-cluster term counts.
_KMEANS_A2_CTES = f"""{_TFIDF_W_CTES},
    seeds AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS INT) AS cluster
              FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
                    FROM (SELECT DISTINCT doc_id FROM w) t
                    ORDER BY h, doc_id LIMIT 5) s),
    c0 AS (SELECT s.cluster, w.word, w.w AS cw FROM w JOIN seeds s USING (doc_id)),
    d2 AS (SELECT doc_id, SUM(w * w) AS x2 FROM w GROUP BY doc_id),
    c0n AS (SELECT cluster, SUM(cw * cw) AS c2 FROM c0 GROUP BY cluster),
    dot1 AS (SELECT w.doc_id, c0.cluster, SUM(w.w * c0.cw) AS dot
             FROM w JOIN c0 USING (word) GROUP BY 1, 2),
    a1 AS (SELECT doc_id, cluster FROM (
            SELECT d2.doc_id, c0n.cluster,
                   ROW_NUMBER() OVER (PARTITION BY d2.doc_id
                       ORDER BY d2.x2 + c0n.c2 - 2 * COALESCE(dot1.dot, 0), c0n.cluster) AS rn
            FROM d2 CROSS JOIN c0n
            LEFT JOIN dot1 ON dot1.doc_id = d2.doc_id AND dot1.cluster = c0n.cluster) t
           WHERE rn = 1),
    csize AS (SELECT cluster, COUNT(*) AS n FROM a1 GROUP BY cluster),
    c1 AS (SELECT cluster, word, cw FROM (
            SELECT t.cluster, t.word,
                   CAST((2 * t.s + c.n) // (2 * c.n) AS BIGINT) AS cw
            FROM (SELECT a1.cluster, w.word, SUM(w.w) AS s
                  FROM w JOIN a1 USING (doc_id) GROUP BY 1, 2) t
            JOIN csize c USING (cluster)) u
           WHERE cw > 0),
    c1n AS (SELECT cluster, SUM(cw * cw) AS c2 FROM c1 GROUP BY cluster),
    dot2 AS (SELECT w.doc_id, c1.cluster, SUM(w.w * c1.cw) AS dot
             FROM w JOIN c1 USING (word) GROUP BY 1, 2),
    a2 AS (SELECT doc_id, cluster, dist2 FROM (
            SELECT d2.doc_id, c1n.cluster,
                   d2.x2 + c1n.c2 - 2 * COALESCE(dot2.dot, 0) AS dist2,
                   ROW_NUMBER() OVER (PARTITION BY d2.doc_id
                       ORDER BY d2.x2 + c1n.c2 - 2 * COALESCE(dot2.dot, 0), c1n.cluster) AS rn
            FROM d2 CROSS JOIN c1n
            LEFT JOIN dot2 ON dot2.doc_id = d2.doc_id AND dot2.cluster = c1n.cluster) t
           WHERE rn = 1)"""


@query(
    "kmeans_documents",
    f"""
    WITH {_KMEANS_A2_CTES}
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(dist2) AS BIGINT) AS sse_e8
    FROM a2 GROUP BY cluster ORDER BY cluster
    """,
)
def kmeans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point K-Means (k=5, two assignment passes, md5-min init) over
    the e4-quantized TF-IDF features; returns (cluster, n_members,
    sse_e8). See operators/kmeans.kmeans_fixedpoint for the semantics
    contract and scale design."""
    w = _tfidf_weight_e4(spark, sf_dir)
    return kmeans_fixedpoint(w, k=5, n_assign_passes=2, weight_col="weight_e4")


# ---------------------------------------------------------------------------
# Repetition signals — Gopher/MassiveText-style quality filters
# ---------------------------------------------------------------------------
@query(
    "ta_repetition",
    rf"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS t
        FROM documents),
    base AS (SELECT doc_id, CAST(LEN(t) AS BIGINT) AS n_words, t FROM toks),
    grams AS (
        SELECT doc_id, v.n, md5(array_to_string(list_slice(t, i, i + v.n - 1), ' ')) AS g
        FROM base, (VALUES (2), (3), (5)) v(n),
             UNNEST(range(1, LEN(t) - v.n + 2)) r(i)
        WHERE LEN(t) >= v.n),
    counts AS (SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY ALL),
    stats AS (
        SELECT doc_id,
               MAX(CASE WHEN n = 2 THEN c END) AS top2,
               SUM(CASE WHEN n = 2 THEN c END) AS tot2,
               MAX(CASE WHEN n = 3 THEN c END) AS top3,
               SUM(CASE WHEN n = 3 THEN c END) AS tot3,
               SUM(CASE WHEN n = 5 AND c > 1 THEN c ELSE 0 END) AS dup5,
               SUM(CASE WHEN n = 5 THEN c END) AS tot5
        FROM counts GROUP BY doc_id)
    SELECT b.doc_id, b.n_words,
           {e_int_sql('CASE WHEN tot2 > 0 THEN CAST(top2 AS DOUBLE) / CAST(tot2 AS DOUBLE) ELSE 0.0 END')} AS top2_frac_e4,
           {e_int_sql('CASE WHEN tot3 > 0 THEN CAST(top3 AS DOUBLE) / CAST(tot3 AS DOUBLE) ELSE 0.0 END')} AS top3_frac_e4,
           {e_int_sql('CASE WHEN tot5 > 0 THEN CAST(dup5 AS DOUBLE) / CAST(tot5 AS DOUBLE) ELSE 0.0 END')} AS dup5_frac_e4
    FROM base b LEFT JOIN stats s USING (doc_id) ORDER BY doc_id
    """,
)
def ta_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram repetition signals (top-2/3-gram share, duplicated
    5-gram fraction) — the boilerplate/copy-loop filters of the standard
    web-corpus recipe. operators/text_analysis.ngram_repetition."""
    docs = load_table(spark, sf_dir, "documents")
    out = ta.ngram_repetition(docs, top_ns=(2, 3), dup_n=5)
    return out.select(
        "doc_id",
        "n_words",
        e_int(F.col("top2_frac")).alias("top2_frac_e4"),
        e_int(F.col("top3_frac")).alias("top3_frac_e4"),
        e_int(F.col("dup5_frac")).alias("dup5_frac_e4"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Cross-document duplicated passages — exact-substring dedup signal
# ---------------------------------------------------------------------------
@query(
    "ta_crossdup",
    rf"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS t
        FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 5), ' ') AS shingle
        FROM toks, UNNEST(range(1, LEN(t) - 4)) r(i)
        WHERE LEN(t) >= 6),
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    per AS (
        SELECT doc_id, COUNT(*) AS n_grams,
               SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_shared
        FROM sh JOIN dfreq USING (shingle) GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
           {e_int_sql('CASE WHEN n_grams > 0 THEN CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) ELSE 0.0 END')} AS crossdup_frac_e4
    FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id
    """,
)
def ta_crossdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of distinct 6-token windows shared with another
    document — the detection half of exact-substring dedup.
    operators/text_analysis.cross_doc_duplication."""
    docs = load_table(spark, sf_dir, "documents")
    out = ta.cross_doc_duplication(docs, k=6)
    return out.select(
        "doc_id",
        "n_grams",
        "n_shared",
        e_int(F.col("crossdup_frac")).alias("crossdup_frac_e4"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Exact-substring passage removal — the removal half of cross-doc dedup
# ---------------------------------------------------------------------------
@query(
    "ta_passage_removal",
    rf"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS t
        FROM documents),
    wins AS (
        SELECT doc_id, i AS p, md5(array_to_string(list_slice(t, i, i + 5), ' ')) AS h
        FROM toks, UNNEST(range(1, LEN(t) - 4)) r(i)
        WHERE LEN(t) >= 6),
    dfreq AS (SELECT h, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, h FROM wins) GROUP BY 1),
    dup AS (SELECT w.doc_id, w.p FROM wins w JOIN dfreq USING (h) WHERE df >= 2),
    cov AS (SELECT DISTINCT doc_id, p + o AS pos FROM dup, UNNEST(range(0, 6)) r(o)),
    tl AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM toks),
    kept AS (SELECT tl.doc_id, tl.pos, tl.tok FROM tl ANTI JOIN cov USING (doc_id, pos)),
    reb AS (SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY pos) AS cleaned
            FROM kept GROUP BY doc_id)
    SELECT toks.doc_id,
           CAST(LEN(t) AS BIGINT) AS n_tokens,
           CAST(LEN(t) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(cleaned, '') AS cleaned
    FROM toks LEFT JOIN reb USING (doc_id) ORDER BY doc_id
    """,
)
def ta_passage_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, removal half (Lee et al. 2022): every token
    covered by a 6-token window shared with another document is dropped and
    the doc rebuilt from survivors.
    operators/text_analysis.remove_duplicated_passages."""
    docs = load_table(spark, sf_dir, "documents")
    return ta.remove_duplicated_passages(docs, k=6, min_docs=2).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Unigram-LM negative log-likelihood — perplexity-proxy quality filter
# ---------------------------------------------------------------------------
@query(
    "ta_unigram_lp",
    rf"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS word
        FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    cw AS (SELECT word, SUM(tf) AS cw FROM tf GROUP BY 1),
    tot AS (SELECT SUM(cw) AS t FROM cw),
    model AS (
        SELECT word,
               CAST(ROUND(LN(CAST(cw AS DOUBLE) / CAST(t AS DOUBLE)), 8) AS DECIMAL(18,8)) AS lnp
        FROM cw CROSS JOIN tot),
    per AS (
        SELECT doc_id, -SUM(CAST(tf AS DECIMAL(12,0)) * lnp) AS s, SUM(tf) AS n
        FROM tf JOIN model USING (word) GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_words,
           {e_int_sql('CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END')} AS nll_e4
    FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id
    """,
)
def ta_unigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean negative log-likelihood under the corpus's own unigram model
    (CCNet-style perplexity-filter stand-in).
    operators/text_analysis.unigram_logprob."""
    docs = load_table(spark, sf_dir, "documents")
    out = ta.unigram_logprob(docs)
    return out.select(
        "doc_id", "n_words", e_int(F.col("nll")).alias("nll_e4")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE tokenizer training — the merge loop, oracle-unrolled
# ---------------------------------------------------------------------------
_BPE_MERGES = 5


def _bpe_ctes(n_merges: int, carry_word: bool = False) -> str:
    """The unrolled learn-BPE CTE chain shared by the bpe_merges and
    bpe_encode oracles: wc (corpus word count), w0..w{n} (the vocab
    symbol-sequence table after each merge), m0..m{n-1} (the argmax
    merges). With ``carry_word`` each w{t} also carries the original
    word, so w{n} doubles as the learned tokenizer's dictionary
    (word -> final symbol sequence); the aggregates that pick the merges
    are unaffected by the extra column."""
    word_sel = "word, " if carry_word else ""
    ctes = [
        rf"""wc AS (
        SELECT word, COUNT(*) AS cnt FROM (
            SELECT unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS word
            FROM documents) GROUP BY word),
    w0 AS (
        SELECT {word_sel}array_to_string(list_transform(range(1, length(word) + 1),
                                              i -> substring(word, CAST(i AS INT), 1)), ' ') AS seq,
               cnt
        FROM wc)"""
    ]
    for t in range(n_merges):
        ctes.append(
            f"""p{t} AS (
        SELECT s[i] AS a, s[i + 1] AS b, SUM(cnt) AS c
        FROM (SELECT string_split(seq, ' ') AS s, cnt FROM w{t}),
             UNNEST(range(1, len(s))) r(i)
        GROUP BY 1, 2),
    m{t} AS (SELECT a, b, c FROM p{t} ORDER BY c DESC, a, b LIMIT 1),
    y{t} AS (
        SELECT {word_sel}s, cnt,
               list_transform(range(1, len(s)),
                              i -> CASE WHEN s[i] = m.a AND s[i + 1] = m.b
                                        THEN 1 ELSE 0 END) AS mk
        FROM (SELECT {word_sel}string_split(seq, ' ') AS s, cnt FROM w{t}) CROSS JOIN m{t} m),
    z{t} AS (
        SELECT {word_sel}s, cnt, mk,
               list_transform(range(1, len(mk) + 1),
                              i -> CASE WHEN mk[i] = 1
                                        AND ((i - COALESCE(list_max(list_filter(range(1, i + 1),
                                                                                j -> mk[j] = 0)), 0)) % 2) = 1
                                        THEN 1 ELSE 0 END) AS sel
        FROM y{t}),
    w{t + 1} AS (
        SELECT {word_sel}array_to_string(
                 list_transform(
                   list_filter(range(1, len(s) + 1),
                               i -> NOT (i >= 2 AND COALESCE(sel[i - 1], 0) = 1)),
                   i -> CASE WHEN COALESCE(sel[i], 0) = 1 THEN m.a || m.b ELSE s[i] END),
                 ' ') AS seq,
               cnt
        FROM z{t} CROSS JOIN m{t} m)"""
        )
    return ", ".join(ctes)


def _bpe_oracle_sql(n_merges: int) -> str:
    """Unrolled DuckDB twin of operators/bpe.learn_bpe: each step is a
    pair-count aggregate + deterministic argmax + a greedy merge pass
    stated with the SAME closed form as operators/bpe._apply_merge
    (mark adjacent (a,b) positions; select marks at odd distance from
    the last unmarked position — greedy non-overlap; rebuild skipping
    successors of selections), so the learned merges match
    string-for-string."""
    selects = " UNION ALL ".join(
        f"SELECT {t} AS step, a AS sym_a, b AS sym_b, a || b AS merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM m{t}"
        for t in range(n_merges)
    )
    return f"WITH {_bpe_ctes(n_merges)} {selects} ORDER BY step"


@query("bpe_merges", _bpe_oracle_sql(_BPE_MERGES))
def bpe_merges_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE tokenizer on the documents corpus (first 5 merges).
    operators/bpe.learn_bpe: one corpus-scale word count, then the merge
    loop runs on the vocabulary-sized word-frequency table — 5 tiny
    jobs, each collecting exactly one argmax row."""
    from ..operators.bpe import learn_bpe, merges_df

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, n_merges=_BPE_MERGES)
    return merges_df(spark, merges).orderBy("step")


# ---------------------------------------------------------------------------
# Domain mixing — deterministic per-group (stratified) sampling
# ---------------------------------------------------------------------------
_MIX_RATES = {"en": 0.25, "es": 0.75, "de": 0.5, "fr": 1.0, "zh": 0.4}


def _mix_case_sql() -> str:
    from ..operators.pipeline import sample_threshold

    arms = " ".join(
        f"WHEN '{g}' THEN {sample_threshold(r)}" for g, r in sorted(_MIX_RATES.items())
    )
    return f"CASE lang {arms} ELSE 0 END"


@query(
    "mix_weighted_topk",
    rf"""
    WITH w AS (
        SELECT doc_id,
               LEN(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS nw
        FROM documents),
    d AS (
        SELECT doc_id, CAST(nw AS BIGINT) AS weight,
               {e_int_sql(
                   "LN((CAST('0x' || substr(md5('wps:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1)"
                   " / 1152921504606846976.0) / CAST(nw AS DOUBLE)", 8)} AS priority_e8
        FROM w WHERE nw > 0)
    SELECT doc_id, weight, priority_e8 FROM d
    ORDER BY priority_e8 DESC, doc_id LIMIT 100
    """,
)
def mix_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis priorities over md5 draws,
    operators/pipeline.weighted_priority_sample): the 100 documents
    drawn with probability ∝ token count. Top-k plans as
    TakeOrderedAndProject — the one-pass distributed form of weighted
    reservoir sampling."""
    from ..operators.pipeline import weighted_priority_sample

    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(ASCII_TOKEN), F.lit(0))
    weighted = docs.select(
        "doc_id", F.size(toks).cast("bigint").alias("weight")
    )
    out = weighted_priority_sample(weighted, k=100, weight_col="weight")
    return out.select("doc_id", "weight", "priority_e8")


@query(
    "mix_stratified",
    rf"""
    SELECT doc_id, lang FROM documents
    WHERE CAST('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          < {_mix_case_sql()}
    ORDER BY doc_id
    """,
)
def mix_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified domain mix: per-language deterministic keep-rates, the
    reshaping primitive a training pipeline uses to hit a target corpus
    mix. Pure narrow filter (md5 draw vs literal integer thresholds) —
    the decision is a pure function of doc_id, so the surviving corpus is
    identical across engines, runs, and partitionings.
    operators/pipeline.stratified_sample (+ mix_weights for deriving the
    rates from target proportions)."""
    from ..operators.pipeline import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, _MIX_RATES).select("doc_id", "lang").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Sequence packing — GPT-style fixed-block packing stats: concatenate the
# corpus token stream in deterministic doc_id order and cut it into
# 512-token blocks (the group_texts recipe every causal-LM pipeline runs);
# report per block how many documents it touches and its token count.
# Scale design: the running token total comes from etl.prefix_sum (two-
# phase range-partitioned cumsum — no Exchange SinglePartition), each doc
# then explodes into only the blocks it overlaps (total rows =
# n_tokens/block + n_docs, linear), and the final aggregate is one hash
# groupBy on block_id.
# ---------------------------------------------------------------------------
_PACK_BLOCK = 512


@query(
    "pack_blocks",
    f"""
    WITH c AS (SELECT doc_id,
                      CAST(LEN(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS BIGINT) AS n_tok
               FROM documents),
    nz AS (SELECT * FROM c WHERE n_tok > 0),
    cum AS (SELECT doc_id, n_tok,
                   CAST(SUM(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS e
            FROM nz),
    spans AS (SELECT doc_id, e - n_tok AS s, e FROM cum),
    b AS (SELECT doc_id, s, e,
                 UNNEST(range(s // {_PACK_BLOCK}, (e - 1) // {_PACK_BLOCK} + 1)) AS block_id
          FROM spans)
    SELECT CAST(block_id AS BIGINT) AS block_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(e, (block_id + 1) * {_PACK_BLOCK})
                    - GREATEST(s, block_id * {_PACK_BLOCK})) AS BIGINT) AS n_tokens
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-block sequence packing over the concatenated corpus token
    stream (block = 512 tokens, docs in doc_id order): per block_id,
    the number of documents the block touches and its token count (=
    block size except the trailing block). operators/etl.prefix_sum
    supplies the distributed running total."""
    from ..operators.etl import prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
        ).cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    cum = prefix_sum(counts, ["doc_id"], "n_tok", out_col="e")
    spans = cum.select("doc_id", (F.col("e") - F.col("n_tok")).alias("s"), "e")
    blk = F.col("block_id")
    b = spans.select(
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"s div {_PACK_BLOCK}"), F.expr(f"(e - 1) div {_PACK_BLOCK}")
            )
        ).alias("block_id"),
    )
    return (
        b.groupBy("block_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.least(F.col("e"), (blk + 1) * _PACK_BLOCK)
                - F.greatest(F.col("s"), blk * _PACK_BLOCK)
            ).cast("long").alias("n_tokens"),
        )
        .select(F.col("block_id").cast("long").alias("block_id"), "n_docs", "n_tokens")
        .orderBy("block_id")
    )


# ---------------------------------------------------------------------------
# Embedding K-Means — semantic clustering over the dense vector table,
# hash-matched: the same fixed-point Lloyd loop as kmeans_documents, on
# e4-quantized (vec_id, dim, coord) long-form. Signed coordinates are safe:
# Spark's DIV and DuckDB's // both truncate toward zero (verified on
# negatives), and the centroid zero-drop keeps negative weights (!= 0).
# LLM-pipeline use: cluster-balanced sampling / semantic dedup over
# document embeddings.
# ---------------------------------------------------------------------------
def _emb_kmeans_ctes(k_sql: str = "4") -> str:
    """The fixed-point embedding-K-Means CTE chain through the final
    assignment table ``a2`` (doc_id, cluster, dist2) — shared by the
    emb_kmeans summary oracle (fixed k=4, a user-chosen model size) and
    the dedup_semantic (SemDeDup) oracle in plans/extensions2.py, which
    passes a COUNT(*)-derived ``k_sql`` so the adjudicated form is the
    self-scaling one."""
    return f"""w AS (
        SELECT vec_id AS doc_id,
               generate_subscripts(embedding, 1) - 1 AS word,
               {e_int_sql('CAST(unnest(embedding) AS DOUBLE)', 4)} AS w
        FROM embeddings),
    seeds AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS INT) AS cluster
              FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
                    FROM (SELECT DISTINCT doc_id FROM w) t
                    ORDER BY h, doc_id LIMIT {k_sql}) s),
    c0 AS (SELECT s.cluster, w.word, w.w AS cw FROM w JOIN seeds s USING (doc_id)
           WHERE w.w <> 0),
    d2 AS (SELECT doc_id, SUM(w * w) AS x2 FROM w GROUP BY doc_id),
    c0n AS (SELECT cluster, SUM(cw * cw) AS c2 FROM c0 GROUP BY cluster),
    dot1 AS (SELECT w.doc_id, c0.cluster, SUM(w.w * c0.cw) AS dot
             FROM w JOIN c0 USING (word) GROUP BY 1, 2),
    a1 AS (SELECT doc_id, cluster FROM (
            SELECT d2.doc_id, c0n.cluster,
                   ROW_NUMBER() OVER (PARTITION BY d2.doc_id
                       ORDER BY d2.x2 + c0n.c2 - 2 * COALESCE(dot1.dot, 0), c0n.cluster) AS rn
            FROM d2 CROSS JOIN c0n
            LEFT JOIN dot1 ON dot1.doc_id = d2.doc_id AND dot1.cluster = c0n.cluster) t
           WHERE rn = 1),
    csize AS (SELECT cluster, COUNT(*) AS n FROM a1 GROUP BY cluster),
    c1 AS (SELECT cluster, word, cw FROM (
            SELECT t.cluster, t.word,
                   CAST((2 * t.s + c.n) // (2 * c.n) AS BIGINT) AS cw
            FROM (SELECT a1.cluster, w.word, SUM(w.w) AS s
                  FROM w JOIN a1 USING (doc_id) GROUP BY 1, 2) t
            JOIN csize c USING (cluster)) u
           WHERE cw <> 0),
    c1n AS (SELECT cluster, SUM(cw * cw) AS c2 FROM c1 GROUP BY cluster),
    dot2 AS (SELECT w.doc_id, c1.cluster, SUM(w.w * c1.cw) AS dot
             FROM w JOIN c1 USING (word) GROUP BY 1, 2),
    a2 AS (SELECT doc_id, cluster, dist2 FROM (
            SELECT d2.doc_id, c1n.cluster,
                   d2.x2 + c1n.c2 - 2 * COALESCE(dot2.dot, 0) AS dist2,
                   ROW_NUMBER() OVER (PARTITION BY d2.doc_id
                       ORDER BY d2.x2 + c1n.c2 - 2 * COALESCE(dot2.dot, 0), c1n.cluster) AS rn
            FROM d2 CROSS JOIN c1n
            LEFT JOIN dot2 ON dot2.doc_id = d2.doc_id AND dot2.cluster = c1n.cluster) t
           WHERE rn = 1)"""


@query(
    "emb_kmeans",
    f"""
    WITH {_emb_kmeans_ctes()}
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(dist2) AS BIGINT) AS sse_e8
    FROM a2 GROUP BY cluster ORDER BY cluster
    """,
)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point K-Means (k=4, two assignment passes, md5-min init) over
    the e4-quantized 64-dim embeddings, long-form (vec_id, dim, coord) —
    the dense-signed twin of kmeans_documents, running the identical
    exact-int Lloyd loop (operators/kmeans.kmeans_fixedpoint). Returns
    (cluster, n_members, sse_e8)."""
    w = dense_e4_long_form(load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return kmeans_fixedpoint(w, k=4, n_assign_passes=2, weight_col="x_e4")


__all__ = ["QUERIES", "ORACLE"]
