r"""Round-3 extension surface: deterministic sketches (KMV distinct,
count-min heavy hitters), an integer-exact PageRank over the TPC-H trade
graph, and BPE tokenizer APPLICATION (encode the corpus under learned
merges) — each hash-matched against a DuckDB oracle stating the same
arithmetic.

Shares every cross-engine convention with plans/extensions.py: md5
integer draws for randomness, scaled-BIGINT (_e4/_e8) hash surfaces,
ASCII token regex in the oracle dialect.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table, table_column_max
from ..functions.text import TOKEN_PATTERN
from .extensions import ASCII_TOKEN, _BPE_MERGES, _bpe_ctes
from .relational import ORACLE, QUERIES, e_int_sql, query  # noqa: F401

_KMV_K = 64
_CMS_D, _CMS_W, _CMS_TOP = 4, 1024, 20
_SIXTY_SQL = "1152921504606846976.0"  # 2^60 as a double literal


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch — per-order-status customer cardinality
# ---------------------------------------------------------------------------
@query(
    "sketch_kmv_distinct",
    f"""
    WITH pairs AS (SELECT DISTINCT o_orderstatus, o_custkey FROM orders),
    h AS (SELECT o_orderstatus, o_custkey,
                 CAST('0x' || substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15)
                      AS BIGINT) AS h
          FROM pairs),
    r AS (SELECT o_orderstatus, h,
                 ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY h, o_custkey) AS rn,
                 COUNT(*) OVER (PARTITION BY o_orderstatus) AS n_exact
          FROM h)
    SELECT o_orderstatus, CAST(n_exact AS BIGINT) AS n_exact,
           {e_int_sql(
               f"CASE WHEN n_exact >= {_KMV_K}"
               f" THEN {_KMV_K - 1}.0 * {_SIXTY_SQL} / CAST(h AS DOUBLE)"
               f" ELSE CAST(n_exact AS DOUBLE) END", 4)} AS est_e4
    FROM r
    WHERE rn = {_KMV_K} OR (n_exact < {_KMV_K} AND rn = n_exact)
    ORDER BY o_orderstatus
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (k=64) of customers per order status —
    the constant-space cardinality estimator a pipeline runs before
    committing to an exact COUNT(DISTINCT) at corpus scale
    (operators/sketches.kmv_distinct). Surfaces the exact count beside
    the estimate so the oracle pins both."""
    from ..operators.sketches import kmv_distinct

    orders = load_table(spark, sf_dir, "orders")
    return kmv_distinct(orders, "o_orderstatus", "o_custkey", k=_KMV_K).orderBy(
        "o_orderstatus"
    )


# ---------------------------------------------------------------------------
# Count-min sketch — heavy-hitter estimates for the top-20 corpus tokens
# ---------------------------------------------------------------------------
def _cms_cell_sql(word_expr: str) -> str:
    return (
        f"CAST('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || ':' || {word_expr}), 1, 15)"
        f" AS BIGINT) % {_CMS_W}"
    )


@query(
    "sketch_cms_topk",
    f"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS word
        FROM documents),
    cells AS (SELECT r, {_cms_cell_sql('word')} AS c
              FROM toks CROSS JOIN range({_CMS_D}) t(r)),
    counters AS (SELECT r, c, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
    exact AS (SELECT word, COUNT(*) AS n_exact FROM toks GROUP BY 1
              ORDER BY n_exact DESC, word LIMIT {_CMS_TOP}),
    probe AS (SELECT word, r, {_cms_cell_sql('word')} AS c
              FROM exact CROSS JOIN range({_CMS_D}) t(r)),
    est AS (SELECT p.word, MIN(COALESCE(cn.cnt, 0)) AS n_est
            FROM probe p LEFT JOIN counters cn USING (r, c) GROUP BY 1)
    SELECT e.word, CAST(e.n_exact AS BIGINT) AS n_exact,
           CAST(est.n_est AS BIGINT) AS n_est
    FROM exact e JOIN est USING (word) ORDER BY e.word
    """,
)
def sketch_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4, w=1024) over the corpus token stream,
    probed at the exact top-20 tokens: (word, n_exact, n_est) with
    n_est >= n_exact by construction. The whole sketch is one
    4096-key hash aggregate; estimation is a broadcast join
    (operators/sketches.cms_counters / cms_estimate)."""
    from ..operators.sketches import cms_counters, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("word")
    )
    counters = cms_counters(toks, d=_CMS_D, w=_CMS_W)
    exact = (
        toks.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "word")
        .limit(_CMS_TOP)
    )
    est = cms_estimate(exact.select("word"), counters, d=_CMS_D, w=_CMS_W)
    return exact.join(est, "word").select("word", "n_exact", "n_est").orderBy("word")


# ---------------------------------------------------------------------------
# PageRank over the customer-nation -> supplier-nation trade graph
# ---------------------------------------------------------------------------
_PR_ITER, _PR_DAMP = 3, 85
_PR_N = 25  # TPC-H nation is fixed at 25 rows at every SF
_PR_INIT = 10**8 // _PR_N
_PR_BASE = (100 - _PR_DAMP) * 10**8 // (100 * _PR_N)


def _pagerank_oracle_sql() -> str:
    ctes = [
        """e AS (
        SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
    ow AS (SELECT src, SUM(w) AS wout FROM e GROUP BY 1),
    ew AS (SELECT e.src, e.dst, e.w, ow.wout FROM e JOIN ow USING (src)),
    nd AS (SELECT n_nationkey AS node FROM nation),
    r0 AS (SELECT node, CAST(%d AS BIGINT) AS rank_e8 FROM nd)"""
        % _PR_INIT
    ]
    for t in range(_PR_ITER):
        ctes.append(
            f"""s{t + 1} AS (
        SELECT ew.dst AS node, SUM((r.rank_e8 * ew.w) // ew.wout) AS s
        FROM ew JOIN r{t} r ON ew.src = r.node GROUP BY 1),
    r{t + 1} AS (
        SELECT nd.node,
               CAST({_PR_BASE} + ({_PR_DAMP} * COALESCE(s{t + 1}.s, 0)) // 100 AS BIGINT)
                 AS rank_e8
        FROM nd LEFT JOIN s{t + 1} USING (node))"""
        )
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT n_nationkey, n_name, r{_PR_ITER}.rank_e8 "
        f"FROM r{_PR_ITER} JOIN nation ON node = n_nationkey ORDER BY n_nationkey"
    )


@query("graph_pagerank", _pagerank_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 iterations, damping 0.85, int64 e8 fixed
    point) over the nation-level trade graph: customer's nation ->
    supplier's nation, weighted by lineitem count. The edge aggregation
    is the corpus-scale join; customer/supplier carry NO forced
    broadcast hint — they scale with SF (150k x SF rows), so AQE picks
    broadcast-vs-sort-merge from measured sizes (relational.py:22
    policy: explicit hints only for bounded smalls like nation/region).
    The power iteration runs on the 25-node rank table
    (operators/components.pagerank_e8 — the same loop shape scales to
    web-graph node counts: shuffle by src, aggregate by dst, no driver
    collect)."""
    from ..operators.components import pagerank_e8

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("weight"))
    )
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    ranks = pagerank_e8(edges, nodes, n_iter=_PR_ITER, damping_pct=_PR_DAMP)
    return (
        ranks.join(F.broadcast(nation), ranks["node"] == nation["n_nationkey"])
        .select("n_nationkey", "n_name", "rank_e8")
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer application — encode the corpus under the learned merges
# ---------------------------------------------------------------------------
@query(
    "bpe_encode",
    f"""
    WITH {_bpe_ctes(_BPE_MERGES, carry_word=True)},
    dict AS (SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_bpe
             FROM w{_BPE_MERGES}),
    toks AS (SELECT doc_id,
                    unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN}')) AS word
             FROM documents),
    per AS (SELECT t.doc_id, COUNT(*) AS n_words, SUM(d.n_bpe) AS n_bpe_tokens
            FROM toks t JOIN dict d USING (word) GROUP BY 1)
    SELECT doc.doc_id, CAST(COALESCE(per.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(per.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents doc LEFT JOIN per USING (doc_id) ORDER BY doc.doc_id
    """,
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the LEARNED BPE merges (training +
    application end to end): per document, word count and BPE symbol
    count under the 5-merge tokenizer. The merge chain runs once per
    DISTINCT word (dictionary-sized, operators/bpe.encode_words) and
    documents pick up symbol counts through a broadcast join — the
    corpus never carries symbol strings through a shuffle
    (operators/bpe.bpe_token_count)."""
    from ..operators.bpe import bpe_token_count, learn_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, n_merges=_BPE_MERGES)
    return bpe_token_count(docs, merges).orderBy("doc_id")


__all__ = ["QUERIES", "ORACLE"]


# ---------------------------------------------------------------------------
# Model-based quality filter — linear classifier logit + keep decision
# ---------------------------------------------------------------------------
def _rnd4_sql(expr: str) -> str:
    """DuckDB twin of functions/numeric.round_exact_double at 4dp."""
    return f"CAST(CAST(ROUND(({expr}) * 10000) AS BIGINT) AS DOUBLE) / 10000.0"


def _classifier_oracle_sql() -> str:
    from ..operators.text_analysis import (
        CLASSIFIER_BIAS,
        CLASSIFIER_THRESHOLD,
        CLASSIFIER_WEIGHTS,
    )
    from .extensions import _STOP_LIST_SQL

    # the same left-associated multiply-add chain as the Spark operator
    z = f"{CLASSIFIER_BIAS}"
    feats = {"alpha_ratio": "a", "punct_ratio": "p", "stop_ratio": "s", "mean_word_len": "m"}
    for name, w in CLASSIFIER_WEIGHTS.items():
        z = f"({z} + {w} * {feats[name]})"
    return rf"""
    WITH f AS (
        SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS n_chars,
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
               {_rnd4_sql('CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END')} AS a,
               {_rnd4_sql('CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END')} AS p,
               {_rnd4_sql('CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END')} AS s,
               {_rnd4_sql('CASE WHEN n_words > 0 THEN sum_len / n_words ELSE 0.0 END')} AS m
        FROM g)
    SELECT doc_id,
           {e_int_sql(z, 6)} AS logit_e6,
           CAST(CASE WHEN {z} >= {CLASSIFIER_THRESHOLD} THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM r ORDER BY doc_id
    """


@query("ta_quality_classifier", _classifier_oracle_sql())
def ta_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based corpus filtering: a linear quality classifier's logit
    and keep/drop decision per document (the scoring pass of a learned
    fasttext/logreg-style filter; fixed literal weights). Emits the
    logit, not a sigmoid — exp() is libm-dependent and not bit-portable,
    the decision is identical either way
    (operators/text_analysis.quality_classifier)."""
    from ..functions.numeric import e_int
    from ..operators.text_analysis import quality_classifier

    docs = load_table(spark, sf_dir, "documents")
    out = quality_classifier(docs)
    return out.select(
        "doc_id", e_int(F.col("logit"), 6).alias("logit_e6"), "keep"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Structured Streaming, adjudicated: availableNow replay of the events
# table through the REAL streaming operators (watermark + window state),
# hash-matched against the BATCH oracle SQL — the strongest form of the
# repo's batch=stream parity claim (Q27/Q28 twins share one oracle).
# ---------------------------------------------------------------------------
_STREAM_SEQ = iter(range(1, 1 << 30))


@query("stream_tumbling", None)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q27's tumbling 1-hour aggregation computed by Structured
    Streaming (file-source replay -> watermark -> window groupBy ->
    memory sink, trigger availableNow) — hash-matched against the same
    DuckDB oracle as the batch entry (streaming/windows.tumbling_counts)."""
    from ..streaming.windows import (
        run_to_memory_sink,
        state_partitions,
        stream_events,
        tumbling_counts,
    )

    ev = stream_events(spark, sf_dir)
    agg = tumbling_counts(ev)
    with state_partitions(spark, 8):
        out = run_to_memory_sink(agg, f"stream_tumbling_{next(_STREAM_SEQ)}", "complete")
    return out.orderBy("hour_epoch", "event_type")


@query("stream_sessionization", None)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q28's per-user session counts computed by Structured Streaming's
    session_window (30-minute gap) over the replayed events — one row
    per closed session in the sink, aggregated to per-user counts, and
    hash-matched against the batch gaps-and-islands oracle
    (streaming/windows.sessionized_counts)."""
    from ..streaming.windows import (
        run_to_memory_sink,
        sessionized_counts,
        state_partitions,
        stream_events,
    )

    ev = stream_events(spark, sf_dir)
    agg = sessionized_counts(ev, gap="30 minutes")
    with state_partitions(spark, 8):
        out = run_to_memory_sink(agg, f"stream_session_{next(_STREAM_SEQ)}", "complete")
    return (
        out.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy("user_id")
    )


# the streaming twins share the batch entries' oracles verbatim — one
# SQL string adjudicates both engines' paths
ORACLE["stream_tumbling"] = ORACLE["q27_tumbling_window"]
ORACLE["stream_sessionization"] = ORACLE["q28_sessionization"]


# ---------------------------------------------------------------------------
# Multimodal, adjudicated: binary media columns built from documents,
# decoded by the REAL codec-free paths (P6 PPM / PCM WAV via
# mapInPandas), with integer-exact outputs so even the Python decode
# stage is hash-matched — the blobs are solid-color / constant-amplitude,
# making every recovered statistic an exact integer the oracle can state
# from md5(doc_id) directly.
# ---------------------------------------------------------------------------
_MM_W, _MM_H = 4, 3
_WAV_RATE, _WAV_N, _WAV_AMPMOD = 8000, 160, 30000


_JPG_W, _JPG_H = 16, 8  # JPEG fixture raster (two 8x8 MCUs)


@query(
    "mm_image_decode",
    f"""
    WITH base AS (
      SELECT doc_id, CAST(doc_id % 4 AS INT) AS m,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) AS h1,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 2) AS BIGINT) AS h2,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 2) AS BIGINT) AS h3
      FROM documents
    ), pal AS (
      SELECT *, CAST(h1 AS DOUBLE) AS r0,
             CAST((3 * h1 + 7) % 256 AS DOUBLE) AS g0,
             CAST((11 * h1 + 19) % 256 AS DOUBLE) AS b0
      FROM base
    ), ycc AS (
      SELECT *,
        LEAST(GREATEST(ROUND(0.299*r0 + 0.587*g0 + 0.114*b0), 0), 255) AS yy,
        LEAST(GREATEST(ROUND(128 - 0.168736*r0 - 0.331264*g0 + 0.5*b0), 0), 255) AS cbv,
        LEAST(GREATEST(ROUND(128 + 0.5*r0 - 0.418688*g0 - 0.081312*b0), 0), 255) AS crv
      FROM pal
    )
    SELECT doc_id,
      CAST(CASE WHEN m >= 2 THEN {_JPG_W} ELSE {_MM_W} END AS INT) AS width,
      CAST(CASE WHEN m >= 2 THEN {_JPG_H} ELSE {_MM_H} END AS INT) AS height,
      CAST(CASE WHEN m <= 2 THEN h1
           ELSE LEAST(GREATEST(ROUND(yy + 1.402*(crv-128)), 0), 255) END AS BIGINT) AS r,
      CAST(CASE WHEN m <= 1 THEN h2 WHEN m = 2 THEN h1
           ELSE LEAST(GREATEST(ROUND(yy - 0.344136*(cbv-128) - 0.714136*(crv-128)), 0), 255) END AS BIGINT) AS g,
      CAST(CASE WHEN m <= 1 THEN h3 WHEN m = 2 THEN h1
           ELSE LEAST(GREATEST(ROUND(yy + 1.772*(cbv-128)), 0), 255) END AS BIGINT) AS b
    FROM ycc ORDER BY doc_id
    """,
)
def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-column round trip across FOUR real codec lanes, externally
    adjudicated: each document's format follows doc_id % 4 — a {w}x{h}
    solid-color P6 PPM (color = first 3 md5(doc_id) bytes), the SAME
    solid color as an 8-bit PNG (from-spec zlib/filter encoder), a
    {jw}x{jh} solid-GREY baseline JPEG (grey = first md5 byte;
    grayscale scan), or a {jw}x{jh} solid-COLOR baseline JPEG in
    4:2:0 — the round-11 lane that puts the YCbCr matrix and the
    chroma upsample under driver adjudication, not just pytest. The
    color lane draws from the closed-form palette (i, 3i+7, 11i+19)
    mod 256 with i = the first md5 byte: every one of the 256 palette
    triples is EXHAUSTIVELY verified tie-free (no expression in the
    encode YCbCr round or the decode RGB reconstruction lands on an
    exact-representable .5, where numpy's half-even and SQL's
    half-away rounding would diverge — tests/test_jpeg.py pins codec =
    numpy twin = DuckDB closed form for all 256), so the oracle states
    r/g/b in closed form through ROUND/LEAST/GREATEST. quality=100's
    all-ones quantization tables keep the flat blocks integral, and a
    flat image is invariant under the 4:2:0 box subsample, so the
    round trip is EXACT. All four lanes decode through the one
    magic-byte dispatcher inside the REAL mapInPandas image path
    (operators/multimodal.extract_image_features, decode_stub=False);
    solid rasters make every channel mean an exact integer, so the
    Arrow decode stage itself — Huffman, IDCT, chroma upsample, color
    matrix, inflate, unfiltering and all — is hash-matched, no
    rows-only weakening. Blob construction is engine-side mapInPandas
    over the repartitioned id projection (the PNG/JPEG encoders need
    real deflate/DCT; single-row-group scans would otherwise serialize
    the build on 1-2 cores — the round-9 parallelism finding)."""
    from ..operators.multimodal import extract_image_features

    docs = load_table(spark, sf_dir, "documents")
    npart = spark.sparkContext.defaultParallelism
    ids = docs.select("doc_id").repartition(npart)

    def build(batches):
        import hashlib

        import pandas as pd

        from ..operators.jpeg import make_jpeg
        from ..operators.multimodal import make_png

        header = f"P6\n{_MM_W} {_MM_H}\n255\n".encode()
        for pdf in batches:
            ids_, blobs = [], []
            for did in pdf["doc_id"]:
                d = hashlib.md5(str(did).encode()).digest()
                m = int(did) % 4
                if m == 0:
                    blob = header + d[:3] * (_MM_W * _MM_H)
                elif m == 1:
                    blob = make_png(_MM_W, _MM_H, d[:3] * (_MM_W * _MM_H))
                elif m == 2:
                    blob = make_jpeg(
                        _JPG_W,
                        _JPG_H,
                        d[:1] * (3 * _JPG_W * _JPG_H),
                        quality=100,
                        grayscale=True,
                    )
                else:
                    i = d[0]
                    color = bytes([i, (3 * i + 7) % 256, (11 * i + 19) % 256])
                    blob = make_jpeg(
                        _JPG_W,
                        _JPG_H,
                        color * (_JPG_W * _JPG_H),
                        quality=100,
                        subsampling="420",
                    )
                ids_.append(int(did))
                blobs.append(blob)
            yield pd.DataFrame(
                {"media_id": ids_, "kind": "image", "content": blobs, "meta": None}
            )

    media = ids.mapInPandas(
        build,
        "media_id long, kind string, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int,sample_rate:int>",
    )
    feats = extract_image_features(media, decode_stub=False)
    # feature = [meanR, meanG, meanB, ...] in [0,1] float32; solid color
    # means the scaled round-trip recovers the exact byte
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        F.round(F.element_at("feature", 1) * 255).cast("long").alias("r"),
        F.round(F.element_at("feature", 2) * 255).cast("long").alias("g"),
        F.round(F.element_at("feature", 3) * 255).cast("long").alias("b"),
    ).orderBy("doc_id")


_MMR_OW, _MMR_OH = 8, 6  # resize target (4x3 source, NN upsample)


@query(
    "mm_image_resize",
    f"""
    WITH opx AS (SELECT d.doc_id, xs.ox, ys.oy
                 FROM documents d, range({_MMR_OW}) xs(ox), range({_MMR_OH}) ys(oy)),
    src AS (SELECT doc_id, (ox * {_MM_W}) // {_MMR_OW} AS sx,
                   (oy * {_MM_H}) // {_MMR_OH} AS sy
            FROM opx),
    col AS (SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(sx AS VARCHAR)
                                       || ':' || CAST(sy AS VARCHAR)), 1, 2) AS BIGINT) AS r,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(sx AS VARCHAR)
                                       || ':' || CAST(sy AS VARCHAR)), 3, 2) AS BIGINT) AS g,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(sx AS VARCHAR)
                                       || ':' || CAST(sy AS VARCHAR)), 5, 2) AS BIGINT) AS b
            FROM src)
    SELECT doc_id, CAST({_MMR_OW} AS INT) AS width, CAST({_MMR_OH} AS INT) AS height,
           CAST(SUM(r) AS BIGINT) AS r_sum, CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum
    FROM col GROUP BY doc_id ORDER BY doc_id
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE adjudicated end to end through the real raster
    path (operators/multimodal.resize_images): every document gets a
    {_MM_W}x{_MM_H} P6 PPM whose PIXELS differ (color of (x, y) = first
    3 bytes of md5(doc:x:y) — built with pure column expressions), the
    Arrow-batched nearest-neighbor kernel resizes to {_MMR_OW}x{_MMR_OH}
    (numpy gather, binary in → binary out), and the RESIZED blob is
    re-decoded by the real feature path; per-channel pixel SUMS are
    exact integers the oracle restates from the NN index map
    (sx = ox·w//out_w), so decode → resize → re-encode → decode is
    hash-matched with no rows-only weakening. The jpeg/webp tiers stay
    honestly gated; this pins the Spark-side plumbing — schema,
    batching, kernel indexing — a production codec drops into."""
    from ..operators.multimodal import extract_image_features, resize_images

    docs = load_table(spark, sf_dir, "documents")
    header = F.lit(f"P6\n{_MM_W} {_MM_H}\n255\n".encode())
    pixels = [
        F.unhex(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.lit(str(x)),
                        F.lit(str(y)),
                    )
                ),
                1,
                6,
            )
        )
        for y in range(_MM_H)
        for x in range(_MM_W)
    ]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(header, *pixels).alias("content"),
        F.lit(None).cast(
            "struct<mime:string,width:int,height:int,duration_ms:int,sample_rate:int>"
        ).alias("meta"),
    )
    resized = resize_images(media, _MMR_OW, _MMR_OH)
    media2 = resized.select(
        "media_id",
        F.lit("image").alias("kind"),
        "content",
        F.lit(None).cast(
            "struct<mime:string,width:int,height:int,duration_ms:int,sample_rate:int>"
        ).alias("meta"),
    )
    feats = extract_image_features(media2, decode_stub=False)
    n = _MMR_OW * _MMR_OH
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        F.round(F.element_at("feature", 1) * n * 255).cast("long").alias("r_sum"),
        F.round(F.element_at("feature", 2) * n * 255).cast("long").alias("g_sum"),
        F.round(F.element_at("feature", 3) * n * 255).cast("long").alias("b_sum"),
    ).orderBy("doc_id")


# dHash image near-dedup: 9x8 source rasters (5 pixels per md5 chunk,
# 15 chunks of 15 bytes, last truncated to 6), every doc_id % 10 == 9 a
# TWIN of its predecessor — exact copy when doc_id % 20 == 9, one-pixel
# perturbed copy ((r+16) % 256 on pixel 0) when doc_id % 20 == 19.
_DH_W, _DH_H = 9, 8
_DH_PIX = _DH_W * _DH_H  # 72 pixels = 216 raster bytes
_DH_MAXHAM = 4


def _dh_px_sql(ch: str) -> str:
    """Channel byte of pixel p from its md5 chunk: chunk = p // 5, byte
    offset within the 15-byte chunk = (p % 5) * 3 + channel."""
    off = {"r": 1, "g": 3, "b": 5}[ch]
    return (
        "CAST('0x' || substr(md5(CAST(base AS VARCHAR) || ':' || "
        f"CAST(p // 5 AS VARCHAR)), (p % 5) * 6 + {off}, 2) AS BIGINT)"
    )


def _dh_blob(base_str: F.Column, twin: F.Column) -> F.Column:
    """The 9x8 (_DH_W x _DH_H) P6 PPM blob for an image entity as a pure column
    expression: pixels come from md5 chunks of ``base_str`` (5 pixels
    per chunk, 15 chunks, last truncated to 6 bytes = 216 raster
    bytes); when ``twin`` is true, pixel 0's R and G bytes shift by
    +128 (a strong luma move that still touches at most the 2 dHash
    comparisons over that cell). Shared by mm_image_near_dups (self
    near-dedup) and mm_image_dedup_incremental (batch x corpus)."""

    def chunk_hex(c: int) -> F.Column:
        return F.md5(F.concat_ws(":", base_str, F.lit(str(c))))

    c0 = chunk_hex(0)
    r0 = (F.conv(F.substring(c0, 1, 2), 16, 10).cast("long") + 128) % 256
    g0 = (F.conv(F.substring(c0, 3, 2), 16, 10).cast("long") + 128) % 256
    chunk0 = F.when(
        twin,
        F.concat(
            F.unhex(F.lpad(F.lower(F.hex(r0)), 2, "0")),
            F.unhex(F.lpad(F.lower(F.hex(g0)), 2, "0")),
            F.unhex(F.substring(c0, 5, 26)),
        ),
    ).otherwise(F.unhex(F.substring(c0, 1, 30)))
    parts = [chunk0]
    parts += [F.unhex(F.substring(chunk_hex(c), 1, 30)) for c in range(1, 14)]
    parts.append(F.unhex(F.substring(chunk_hex(14), 1, 12)))  # 6-byte tail
    header = F.lit(f"P6\n{_DH_W} {_DH_H}\n255\n".encode())
    return F.concat(header, *parts)


@query(
    "mm_image_near_dups",
    f"""
    WITH d AS (SELECT doc_id,
                      CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS base,
                      doc_id % 20 = 19 AS twin
               FROM documents),
    px AS (SELECT doc_id, p,
                  CASE WHEN twin AND p = 0
                       THEN ({_dh_px_sql('r')} + 128) % 256
                       ELSE {_dh_px_sql('r')} END AS r,
                  CASE WHEN twin AND p = 0
                       THEN ({_dh_px_sql('g')} + 128) % 256
                       ELSE {_dh_px_sql('g')} END AS g,
                  {_dh_px_sql('b')} AS b
           FROM d, range({_DH_PIX}) t(p)),
    lum AS (SELECT doc_id, p, 299 * r + 587 * g + 114 * b AS l FROM px),
    bits AS (SELECT a.doc_id, (a.p // {_DH_W}) * 8 + (a.p % {_DH_W}) AS bit
             FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.p = a.p + 1
             WHERE a.p % {_DH_W} < 8 AND a.l > b.l),
    sig AS (SELECT d0.doc_id,
                   COALESCE(SUM(CASE WHEN bit >= 32
                                     THEN CAST(pow(2, bit - 32) AS BIGINT) END), 0) AS hi,
                   COALESCE(SUM(CASE WHEN bit < 32
                                     THEN CAST(pow(2, bit) AS BIGINT) END), 0) AS lo
            FROM (SELECT doc_id FROM documents) d0
            LEFT JOIN bits USING (doc_id) GROUP BY d0.doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {_DH_MAXHAM}
    ORDER BY id_a, id_b
    """,
)
def mm_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE near-dedup, adjudicated end to end: every
    document gets a {w}x{h} P6 PPM whose pixels come from md5 chunks of
    a BASE id (5 pixels per chunk — pure column expressions, 15 md5s
    per row instead of 72); every doc_id % 10 == 9 is a planted TWIN of
    its predecessor — a byte-exact copy when doc_id % 20 == 9 (dHash
    Hamming 0) and a one-pixel-perturbed copy when doc_id % 20 == 19
    (+128 on pixel 0's R and G bytes, which can move at most the 2
    dHash comparisons touching that cell). The REAL decode path recovers the
    raster (multimodal.image_dhash via _decode_ppm), the 64-bit dHash
    uses integer Rec.601 luma (299R+587G+114B — no float anywhere), and
    near-dup pairs come from the SAME pigeonhole bit-slice blocking
    text SimHash uses (dedup.simhash_near_dups: {k}+1 disjoint slices,
    any pair within Hamming {k} must agree exactly on one slice, so
    candidates are an equi-join, never an all-pairs scan — lossless by
    construction and O(sum bucket^2)). The oracle restates pixel bytes,
    luma comparisons, lanes, and the Hamming verdicts in closed form —
    the Arrow decode + hash stage is hash-matched, no rows-only
    weakening. At 100 TB: blob construction is map-side, signatures are
    3 longs per image (blocking shuffles 24 bytes/row, never pixels),
    and the blocked join is the measured-scalable SimHash plan; this is
    the image-dedup-before-captioning stage of a multimodal pipeline,
    with jpeg/webp decode honestly gated behind the codec tiers."""
    from ..operators import dedup as dd
    from ..operators.multimodal import image_dhash

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = F.when(did % 10 == 9, did - 1).otherwise(did).cast("string")
    media = docs.select(
        did.alias("media_id"),
        F.lit("image").alias("kind"),
        _dh_blob(base, did % 20 == 19).alias("content"),
        F.lit(None).cast(
            "struct<mime:string,width:int,height:int,duration_ms:int,sample_rate:int>"
        ).alias("meta"),
    )
    # lazy checkpoint: the blocking self-join would otherwise build and
    # hash every blob once per join side (see mm_video_near_dups)
    sig = (
        image_dhash(media)
        .withColumnRenamed("media_id", "doc_id")
        .localCheckpoint(eager=False)
    )
    return dd.simhash_near_dups(
        sig, max_hamming=_DH_MAXHAM, pin_signatures=False
    ).orderBy("id_a", "id_b")


mm_image_near_dups.__doc__ = mm_image_near_dups.__doc__.format(
    w=_DH_W, h=_DH_H, k=_DH_MAXHAM
)


_DH_SENTINEL = 99  # "no corpus match" min_hamming, > any real distance


@query(
    "mm_image_dedup_incremental",
    f"""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
    corp AS (SELECT doc_id AS img_id, doc_id AS base, FALSE AS twin
             FROM documents WHERE doc_id % 5 <> 0),
    newb AS (SELECT doc_id AS img_id, doc_id AS base, FALSE AS twin
             FROM documents WHERE doc_id % 5 = 0),
    plant AS (SELECT doc_id + off AS img_id, doc_id AS base, TRUE AS twin
              FROM documents, mx WHERE doc_id % 20 = 1),
    ents AS (SELECT 'c' AS side, img_id, base, twin FROM corp
             UNION ALL SELECT 'b', img_id, base, twin FROM newb
             UNION ALL SELECT 'b', img_id, base, twin FROM plant),
    px AS (SELECT side, img_id, p,
                  CASE WHEN twin AND p = 0
                       THEN ({_dh_px_sql('r')} + 128) % 256
                       ELSE {_dh_px_sql('r')} END AS r,
                  CASE WHEN twin AND p = 0
                       THEN ({_dh_px_sql('g')} + 128) % 256
                       ELSE {_dh_px_sql('g')} END AS g,
                  {_dh_px_sql('b')} AS b
           FROM ents, range({_DH_PIX}) t(p)),
    lum AS (SELECT side, img_id, p, 299 * r + 587 * g + 114 * b AS l FROM px),
    bits AS (SELECT a.side, a.img_id, (a.p // {_DH_W}) * 8 + (a.p % {_DH_W}) AS bit
             FROM lum a JOIN lum b ON b.side = a.side AND b.img_id = a.img_id
                                   AND b.p = a.p + 1
             WHERE a.p % {_DH_W} < 8 AND a.l > b.l),
    sig AS (SELECT e.side, e.img_id,
                   COALESCE(SUM(CASE WHEN bit >= 32
                                     THEN CAST(pow(2, bit - 32) AS BIGINT) END), 0) AS hi,
                   COALESCE(SUM(CASE WHEN bit < 32
                                     THEN CAST(pow(2, bit) AS BIGINT) END), 0) AS lo
            FROM (SELECT DISTINCT side, img_id FROM ents) e
            LEFT JOIN bits USING (side, img_id) GROUP BY e.side, e.img_id),
    hits AS (SELECT b.img_id,
                    CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
             FROM sig a JOIN sig b ON a.side = 'c' AND b.side = 'b'
             WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {_DH_MAXHAM}),
    agg AS (SELECT img_id, CAST(COUNT(*) AS BIGINT) AS nd, MIN(hamming) AS mh
            FROM hits GROUP BY img_id)
    SELECT b.img_id AS doc_id,
           COALESCE(nd, 0) AS n_dups,
           CAST(COALESCE(mh, {_DH_SENTINEL}) AS INTEGER) AS min_hamming,
           CAST(CASE WHEN COALESCE(nd, 0) = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_new
    FROM (SELECT img_id FROM newb UNION ALL SELECT img_id FROM plant) b
    LEFT JOIN agg USING (img_id)
    ORDER BY doc_id
    """,
)
def mm_image_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IMAGE ingest dedup — the multimodal twin of
    dedup_incremental: a BATCH of arriving images checks against a
    static image CORPUS without the corpus ever joining itself. Corpus
    = one md5-derived raster per doc_id % 5 != 0; batch = the % 5 == 0
    docs (novel rasters) plus PLANTED arrivals — one-pixel-perturbed
    copies of every doc_id % 20 == 1 corpus image, offset past
    max(doc_id) so ids stay disjoint (the semantic_incremental
    convention). Both sides hash through the REAL decode path
    (multimodal.image_dhash) and candidates come from the CROSS-SIDE
    pigeonhole blocking (dedup.simhash_near_dups_against — slice
    equi-join between the two signature tables, witness dedup, popcount
    verify; batch work is Σ bucket_a x bucket_b, never |corpus| x
    |batch|). One verdict row per batch image: n_dups, min_hamming
    ({sent} sentinel when no corpus image is within Hamming {k}), and
    is_new. The oracle restates both sides' dHashes and the verdicts in
    closed form. At 100 TB this is the image-ingest gate before
    captioning: the corpus stays a 24-byte-per-image signature table,
    each arriving batch pays one blocked join against it."""
    from ..operators import dedup as dd
    from ..operators.multimodal import image_dhash

    docs = load_table(spark, sf_dir, "documents")
    mx = table_column_max(sf_dir, "documents", "doc_id")
    if mx is None:
        mx = docs.agg(F.max("doc_id")).head()[0]
    off = (mx if mx is not None else -1) + 1  # empty table -> empty batch
    did = F.col("doc_id")
    meta = F.lit(None).cast(
        "struct<mime:string,width:int,height:int,duration_ms:int,sample_rate:int>"
    )

    def media(df, img_id: F.Column, twin: bool):
        return df.select(
            img_id.alias("media_id"),
            F.lit("image").alias("kind"),
            _dh_blob(did.cast("string"), F.lit(twin)).alias("content"),
            meta.alias("meta"),
        )

    corp = media(docs.filter(did % 5 != 0), did, False)
    newb = media(docs.filter(did % 5 == 0), did, False)
    plant = media(docs.filter(did % 20 == 1), did + F.lit(int(off)), True)
    batch = newb.unionByName(plant)
    sig_c = image_dhash(corp).withColumnRenamed("media_id", "doc_id")
    sig_b = image_dhash(batch).withColumnRenamed("media_id", "doc_id")
    hits = dd.simhash_near_dups_against(sig_c, sig_b, max_hamming=_DH_MAXHAM)
    agg = hits.groupBy("id_b").agg(
        F.count("*").cast("bigint").alias("_nd"),
        F.min("hamming").alias("_mh"),
    )
    return (
        sig_b.select("doc_id")
        .join(agg, sig_b["doc_id"] == agg["id_b"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_nd"), F.lit(0).cast("bigint")).alias("n_dups"),
            F.coalesce(F.col("_mh"), F.lit(_DH_SENTINEL))
            .cast("int")
            .alias("min_hamming"),
            F.when(F.coalesce(F.col("_nd"), F.lit(0)) == 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_new"),
        )
        .orderBy("doc_id")
    )


mm_image_dedup_incremental.__doc__ = mm_image_dedup_incremental.__doc__.format(
    sent=_DH_SENTINEL, k=_DH_MAXHAM
)


# Audio fingerprint near-dedup: 65 constant-amplitude segments x 4
# samples per clip (amplitude of segment s = md5(base:s) % 30000), every
# doc_id % 10 == 9 a TWIN of its predecessor — byte-exact at
# doc_id % 20 == 9, segment-0 amplitude shifted (+10000 % 30000) at
# doc_id % 20 == 19 (moves at most the one comparison touching e0).
_AF_SEGS, _AF_SEGLEN, _AF_AMPMOD, _AF_MAXHAM = 65, 4, 30000, 4


def _af_amp(base_str: F.Column, s: int, twin: F.Column) -> F.Column:
    """Segment s's amplitude as a long column: md5(base:s)'s leading 4
    hex digits mod the amplitude modulus, +10000 (mod again) on the
    twin's segment 0."""
    a = F.conv(
        F.substring(F.md5(F.concat_ws(":", base_str, F.lit(str(s)))), 1, 4), 16, 10
    ).cast("long") % _AF_AMPMOD
    if s == 0:
        a = F.when(twin, (a + 10000) % _AF_AMPMOD).otherwise(a)
    return a


def _af_wav_blob(base_str: F.Column, twin: F.Column) -> F.Column:
    """The fixture clip for an audio entity as a pure column expression,
    byte-identical to ``make_wav`` over seglen copies of each segment's
    amplitude (pinned by test): amplitudes are positive int16 (< 2^15), so each
    sample's little-endian encoding is lo-byte, hi-byte with no sign
    handling; each segment contributes its 4-hex-char sample pattern
    repeated seglen times, the concatenated hex string unhexes to the
    PCM payload, and the RIFF header is a constant literal (fixed
    sample count and rate)."""
    n_samples = _AF_SEGS * _AF_SEGLEN
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + 2 * n_samples, b"WAVE",
        b"fmt ", 16, 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16,
        b"data", 2 * n_samples,
    )
    seg_hex = []
    for s in range(_AF_SEGS):
        a = _af_amp(base_str, s, twin)
        pair = F.concat(
            F.lpad(F.lower(F.hex(a.bitwiseAND(F.lit(255)))), 2, "0"),
            F.lpad(F.lower(F.hex(F.shiftright(a, 8))), 2, "0"),
        )
        seg_hex.append(F.repeat(pair, _AF_SEGLEN))
    return F.concat(F.lit(hdr), F.unhex(F.concat(*seg_hex)))


@query(
    "mm_audio_near_dups",
    f"""
    WITH d AS (SELECT doc_id,
                      CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS base,
                      doc_id % 20 = 19 AS twin
               FROM documents),
    amp AS (SELECT doc_id, s,
                   CASE WHEN twin AND s = 0
                        THEN (CAST('0x' || substr(md5(CAST(base AS VARCHAR) || ':' ||
                                   CAST(s AS VARCHAR)), 1, 4) AS BIGINT) % {_AF_AMPMOD}
                              + 10000) % {_AF_AMPMOD}
                        ELSE CAST('0x' || substr(md5(CAST(base AS VARCHAR) || ':' ||
                                  CAST(s AS VARCHAR)), 1, 4) AS BIGINT) % {_AF_AMPMOD}
                   END AS a
            FROM d, range({_AF_SEGS}) t(s)),
    e AS (SELECT doc_id, s, {_AF_SEGLEN} * a * a AS e FROM amp),
    bits AS (SELECT a.doc_id, a.s AS bit
             FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.s = a.s + 1
             WHERE a.e > b.e),
    sig AS (SELECT d0.doc_id,
                   COALESCE(SUM(CASE WHEN bit >= 32
                                     THEN CAST(pow(2, bit - 32) AS BIGINT) END), 0) AS hi,
                   COALESCE(SUM(CASE WHEN bit < 32
                                     THEN CAST(pow(2, bit) AS BIGINT) END), 0) AS lo
            FROM (SELECT doc_id FROM documents) d0
            LEFT JOIN bits USING (doc_id) GROUP BY d0.doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {_AF_MAXHAM}
    ORDER BY id_a, id_b
    """,
)
def mm_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint AUDIO near-dedup, adjudicated end to end —
    the audio member of the multimodal dedup family (text MinHash/
    SimHash, embedding cosine, image dHash, now audio): every document
    gets a PCM16 WAV of {segs} constant-amplitude segments x {seglen}
    samples (amplitude of segment s = md5(base:s) % {mod}, encoded
    executor-side by the real RIFF writer), with planted twins — a
    byte-exact copy at doc_id % 20 == 9 and a segment-0
    amplitude-shifted copy at doc_id % 20 == 19 (moves at most the one
    energy comparison touching e0). The REAL decode path recovers the
    samples (multimodal.audio_fingerprint via _decode_wav), segment
    ENERGIES are exact int64 sums of squared samples, bit b =
    energy(b) > energy(b+1) gives the 64-bit signature, and near-dup
    pairs come from the SAME pigeonhole bit-slice blocking as text
    SimHash and image dHash (candidates = equi-join, never all-pairs).
    The oracle restates amplitudes, energies, bits, lanes, and Hamming
    verdicts in closed form (constant segments make energy =
    seglen * a^2 exactly) — the Arrow decode + hash stage is
    hash-matched. At 100 TB: signatures are 3 longs per clip, audio
    bytes never leave the executor; mp3/flac decode stays honestly
    gated behind the codec tiers. The fixture WAV is built from pure
    COLUMN expressions (the mm_image pattern — md5/conv/hex string
    arithmetic, byte-identical to multimodal.make_wav by test), so blob
    construction is engine-side scan work, not a per-doc Python loop;
    round-8's linear scaling curve measured the old fixture loop (65
    hashlib calls per doc), never the operator."""
    from ..operators import dedup as dd
    from ..operators.multimodal import audio_fingerprint

    # repartition the 8-byte id projection to the session's parallelism
    # BEFORE the blob build: the source parquet is a handful of files, so
    # without it the md5-expression encode + Python decode chain runs on
    # 1-2 cores (measured: the whole round-8 "linear" curve was scan
    # underparallelization, not operator cost)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    did = F.col("doc_id")
    base = F.when(did % 10 == 9, did - 1).otherwise(did).cast("string")
    media = docs.select(
        did.alias("media_id"),
        F.lit("audio").alias("kind"),
        _af_wav_blob(base, did % 20 == 19).alias("content"),
    )
    # lazy checkpoint: the blocking self-join would otherwise re-run the
    # WAV encode + decode chain once per join side (see mm_video_near_dups)
    sig = (
        audio_fingerprint(media, n_segments=_AF_SEGS)
        .withColumnRenamed("media_id", "doc_id")
        .localCheckpoint(eager=False)
    )
    return dd.simhash_near_dups(
        sig, max_hamming=_AF_MAXHAM, pin_signatures=False
    ).orderBy("id_a", "id_b")


mm_audio_near_dups.__doc__ = mm_audio_near_dups.__doc__.format(
    segs=_AF_SEGS, seglen=_AF_SEGLEN, mod=_AF_AMPMOD
)


# Video perceptual near-dedup: 8-frame PPM-sequence per doc (frame f's
# raster from md5(base:f:chunk), the _dh_blob chunk layout), sampling
# every 2nd frame up to 4 (indices 0,2,4,6), per-frame dHash, strict
# per-bit majority across the sampled frames. Twins as in the image
# entry: byte-exact at doc_id % 20 == 9; at % 20 == 19 pixel 0 of
# SAMPLED frame 2 shifts R,G by +128 — that frame's dHash moves at most
# 2 bits, and a majority bit flips only where the 4-frame vote was at
# the 2/3 boundary, so the twin stays within the Hamming gate.
_VH_FRAMES, _VH_EVERY, _VH_MAXF, _VH_TWIN_FRAME = 8, 2, 4, 2
_VH_SAMPLED = tuple(range(0, _VH_MAXF * _VH_EVERY, _VH_EVERY))


def _vh_video_blob(base_str: F.Column, twin: F.Column) -> F.Column:
    """The fixture PPM-sequence video as a pure column expression:
    frame f is exactly :func:`_dh_blob` with the frame index folded
    into the md5 base string (chunk c of frame f hashes "base:f:c"),
    the twin perturbation applies only to the sampled twin frame, and
    the container is the frames' plain concatenation (the
    make_ppm_video layout). Byte-identical to the per-doc Python
    builder (pinned by test)."""
    return F.concat(
        *[
            _dh_blob(
                F.concat_ws(":", base_str, F.lit(str(f))),
                twin if f == _VH_TWIN_FRAME else F.lit(False),
            )
            for f in range(_VH_FRAMES)
        ]
    )


def _dhv_px_sql(ch: str) -> str:
    """Channel byte of pixel p in frame f: the _dh_px_sql chunk layout
    with the frame index folded into the md5 base string."""
    off = {"r": 1, "g": 3, "b": 5}[ch]
    return (
        "CAST('0x' || substr(md5(CAST(base AS VARCHAR) || ':' || "
        "CAST(f AS VARCHAR) || ':' || CAST(p // 5 AS VARCHAR)), "
        f"(p % 5) * 6 + {off}, 2) AS BIGINT)"
    )


@query(
    "mm_video_near_dups",
    f"""
    WITH d AS (SELECT doc_id,
                      CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS base,
                      doc_id % 20 = 19 AS twin
               FROM documents),
    px AS MATERIALIZED (
        SELECT doc_id, f, p,
               CASE WHEN twin AND f = {_VH_TWIN_FRAME} AND p = 0
                    THEN ({_dhv_px_sql('r')} + 128) % 256
                    ELSE {_dhv_px_sql('r')} END AS r,
               CASE WHEN twin AND f = {_VH_TWIN_FRAME} AND p = 0
                    THEN ({_dhv_px_sql('g')} + 128) % 256
                    ELSE {_dhv_px_sql('g')} END AS g,
               {_dhv_px_sql('b')} AS b
        FROM d, (VALUES {', '.join(f'({f})' for f in _VH_SAMPLED)}) v(f),
             range({_DH_PIX}) t(p)),
    lum AS MATERIALIZED (
        SELECT doc_id, f, p, 299 * r + 587 * g + 114 * b AS l FROM px),
    fbits AS (SELECT a.doc_id, a.f, (a.p // {_DH_W}) * 8 + (a.p % {_DH_W}) AS bit
              FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.f = a.f
                                   AND b.p = a.p + 1
              WHERE a.p % {_DH_W} < 8 AND a.l > b.l),
    mbits AS (SELECT doc_id, bit FROM fbits
              GROUP BY doc_id, bit HAVING 2 * COUNT(*) > {len(_VH_SAMPLED)}),
    sig AS (SELECT d0.doc_id,
                   COALESCE(SUM(CASE WHEN bit >= 32
                                     THEN CAST(pow(2, bit - 32) AS BIGINT) END), 0) AS hi,
                   COALESCE(SUM(CASE WHEN bit < 32
                                     THEN CAST(pow(2, bit) AS BIGINT) END), 0) AS lo
            FROM (SELECT doc_id FROM documents) d0
            LEFT JOIN mbits USING (doc_id) GROUP BY d0.doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {_DH_MAXHAM}
    ORDER BY id_a, id_b
    """,
)
def mm_video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash VIDEO near-dedup, adjudicated end to end — the
    video member completing the multimodal dedup family (text MinHash/
    SimHash, embedding cosine, image dHash, audio fingerprint): every
    document gets a codec-free PPM-sequence video of {nf} frames
    (frame f's 9x8 raster from md5 chunks of "base:f:chunk" — the
    image entry's chunk layout with the frame index folded in, encoded
    executor-side through the real make_ppm_video container), with
    planted twins — a byte-exact copy at doc_id % 20 == 9 and a copy
    whose SAMPLED frame {tf} has pixel 0's R,G shifted +128 at
    doc_id % 20 == 19 (moves at most 2 of that frame's dHash bits, so
    the 4-frame majority moves at most 2 signature bits). The REAL
    video path runs end to end: multimodal.video_dhash splits the
    container (_split_ppm_sequence), samples every {ev}nd frame up to
    {mf} (the sample_frames rule), hashes each sampled frame with the
    shared integer dHash kernel, and takes a strict per-bit MAJORITY
    vote; near-dup pairs come from the same pigeonhole bit-slice
    blocking as the other lanes (candidates = equi-join, never
    all-pairs). The oracle restates frames, pixels, luma comparisons,
    the majority vote, and the Hamming verdicts in closed form — the
    Arrow decode + hash stage is hash-matched, no rows-only weakening.
    At 100 TB: videos never leave the executor (one mapInPandas row
    each), signatures are 3 longs per video, and the blocked join is
    the measured-scalable SimHash plan — the video-dedup-before-
    captioning stage of a multimodal pipeline, with mp4/webm decode
    honestly gated behind the codec tiers. The fixture video is built
    from pure COLUMN expressions: each frame is the image entry's
    _dh_blob with the frame index folded into the md5 base string, and
    the PPM-sequence container is their plain concatenation
    (make_ppm_video's byte layout — parity with the per-doc Python
    builder pinned by test), so blob construction is engine-side scan
    work; round-8's linear scaling curve measured the old fixture loop
    (120 hashlib calls per doc), never the operator."""
    from ..operators import dedup as dd
    from ..operators.multimodal import video_dhash

    # id projection repartitioned before the blob build — see
    # mm_audio_near_dups (1-2 scan partitions otherwise serialize the
    # 128-md5 encode and the per-frame Python decode)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    did = F.col("doc_id")
    base = F.when(did % 10 == 9, did - 1).otherwise(did).cast("string")
    media = docs.select(
        did.alias("media_id"),
        F.lit("video").alias("kind"),
        _vh_video_blob(base, did % 20 == 19).alias("content"),
    )
    # lazy checkpoint: the pigeonhole blocking SELF-joins the signature
    # table, and without the lineage cut each side would re-run the
    # whole Python build+hash chain (measured 2x the entry's wall time);
    # checkpointed, videos are encoded and hashed exactly once and the
    # join reads 24-byte signature rows from the block store.
    sig = (
        video_dhash(media, every_n=_VH_EVERY, max_frames=_VH_MAXF)
        .withColumnRenamed("media_id", "doc_id")
        .localCheckpoint(eager=False)
    )
    return dd.simhash_near_dups(
        sig, max_hamming=_DH_MAXHAM, pin_signatures=False
    ).orderBy("id_a", "id_b")


mm_video_near_dups.__doc__ = mm_video_near_dups.__doc__.format(
    nf=_VH_FRAMES, tf=_VH_TWIN_FRAME, ev=_VH_EVERY, mf=_VH_MAXF
)


@query(
    "mm_audio_decode",
    f"""
    SELECT doc_id,
           CAST({round(_WAV_N * 1000 / _WAV_RATE)} AS INT) AS duration_ms,
           CAST({_WAV_RATE} AS INT) AS sample_rate,
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                % {_WAV_AMPMOD} + 1 AS BIGINT) AS amplitude
    FROM documents ORDER BY doc_id
    """,
)
def mm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column round trip, externally adjudicated: every document
    gets a 20 ms constant-amplitude PCM WAV (amplitude = md5(doc_id)
    mod {mod} + 1) encoded executor-side in one mapInPandas, decoded by
    the REAL audio path (operators/multimodal.extract_audio_features,
    decode_stub=False), and duration/rate/amplitude recovered from the
    decoded samples must match the oracle's closed form. Constant
    amplitude makes round(rms * 32768) the exact amplitude integer."""
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import extract_audio_features, make_wav

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            amp = pdf["doc_id"].map(
                lambda d: 1
                + int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16) % _WAV_AMPMOD
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "content": amp.map(lambda a: make_wav([a] * _WAV_N, _WAV_RATE)),
                }
            )

    media = docs.mapInPandas(build, "media_id long, kind string, content binary")
    feats = extract_audio_features(media, decode_stub=False)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "duration_ms",
        "sample_rate",
        F.round(F.col("rms") * 32768).cast("long").alias("amplitude"),
    ).orderBy("doc_id")


_VID_FRAMES, _VID_PX = 4, 4  # 4 frames of 2x2 pixels


@query(
    "mm_video_frames",
    """
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 6 * f + 1, 2) AS BIGINT) AS r,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 6 * f + 3, 2) AS BIGINT) AS g,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 6 * f + 5, 2) AS BIGINT) AS b
    FROM documents CROSS JOIN (SELECT UNNEST([0, 2]) AS f) t
    ORDER BY doc_id, frame_idx
    """,
)
def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-column round trip, externally adjudicated: every document
    gets a 4-frame PPM-sequence video (frame f's solid color = md5
    digest bytes 3f..3f+2), frame-sampled every 2nd frame by the REAL
    container-splitting path (operators/multimodal.sample_frames,
    decode_stub=False), each sampled frame decoded by the image path —
    the full video -> frames -> features pipeline with every recovered
    channel an exact integer the oracle states in closed form. Frames
    explode executor-side; a video never rides a shuffle whole."""
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import (
        extract_image_features,
        make_ppm,
        make_ppm_video,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def vid(d) -> bytes:
            hx = hashlib.md5(str(d).encode()).digest()
            return make_ppm_video(
                [
                    make_ppm(2, 2, bytes(hx[3 * f : 3 * f + 3]) * _VID_PX)
                    for f in range(_VID_FRAMES)
                ]
            )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "video",
                    "content": pdf["doc_id"].map(vid),
                }
            )

    media = docs.mapInPandas(build, "media_id long, kind string, content binary")
    frames = sample_frames(media, every_n=2, max_frames=2, decode_stub=False)
    # carry (doc_id, frame_idx) through the image extractor in media_id
    fmedia = frames.select(
        (F.col("media_id") * _VID_FRAMES + F.col("frame_idx")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("frame_bytes").alias("content"),
    )
    feats = extract_image_features(fmedia, decode_stub=False)
    return feats.select(
        F.expr(f"media_id div {_VID_FRAMES}").cast("long").alias("doc_id"),
        (F.col("media_id") % _VID_FRAMES).cast("int").alias("frame_idx"),
        F.round(F.element_at("feature", 1) * 255).cast("long").alias("r"),
        F.round(F.element_at("feature", 2) * 255).cast("long").alias("g"),
        F.round(F.element_at("feature", 3) * 255).cast("long").alias("b"),
    ).orderBy("doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# IVF top-k — the coarse quantizer itself hash-matched (fixed-point keys)
# ---------------------------------------------------------------------------
_IVF_NLIST, _IVF_NPROBE, _IVF_K = 16, 4, 10
_E8 = "100000000.0"


def _ivf_sql(n_probe: int, k: int, qid: int = 0) -> str:
    """The hash-matched IVF-flat chain with parameterized probe budget
    and query id — shared by sim_topk_ivf (n_probe=4, the fast tier),
    the sim_recall_ivf harness (which also evaluates the auto_n_probe
    budget), and sim_topk_many_ivf's per-query arms."""
    return f"""
    WITH seeds AS (
        SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                            AS INT) AS lid
        FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_NLIST}),
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
    """


@query("sim_topk_ivf", _ivf_sql(_IVF_NPROBE, _IVF_K))
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-10 to the vec_id=0 embedding, with the
    COARSE QUANTIZER itself hash-matched: assignment and probe selection
    use the e8 fixed-point dot products (order-independent int64 sums),
    so DuckDB reproduces the inverted lists, the probed lists, and the
    re-ranked scores bit-for-bit — closing the adjudication gap the LSH
    twin (sim_topk_lsh) already covers
    (operators/similarity.ivf_topk_cosine, fixed_point=True)."""
    from ..operators import similarity as sim_mod
    from ..functions.numeric import e_int

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    out = sim_mod.ivf_topk_cosine(
        emb, qvec, k=_IVF_K, n_list=_IVF_NLIST, n_probe=_IVF_NPROBE, fixed_point=True
    )
    return out.select("vec_id", e_int(F.col("score"), 6).alias("score_e6"))


# ---------------------------------------------------------------------------
# Dataset profiling — the input-validation pass, adjudicated on its
# exact-safe surface (one single-scan aggregation over every column)
# ---------------------------------------------------------------------------
# lineitem dtype map for the oracle: int -> bigint-string repr,
# str -> identity repr, None (double/timestamp) -> NULL repr
_PROFILE_COLS = [
    ("l_orderkey", "int"), ("l_partkey", "int"), ("l_suppkey", "int"),
    ("l_linenumber", "int"), ("l_quantity", None), ("l_extendedprice", None),
    ("l_discount", None), ("l_tax", None), ("l_returnflag", "str"),
    ("l_linestatus", "str"), ("l_shipdate", None),
]


def _profile_oracle_sql() -> str:
    parts = []
    for name, kind in _PROFILE_COLS:
        if kind == "int":
            mn = f"CAST(CAST(MIN({name}) AS BIGINT) AS VARCHAR)"
            mx = f"CAST(CAST(MAX({name}) AS BIGINT) AS VARCHAR)"
        elif kind == "str":
            mn, mx = f"MIN({name})", f"MAX({name})"
        else:
            mn = mx = "CAST(NULL AS VARCHAR)"
        parts.append(
            f"SELECT '{name}' AS \"column\", CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_null, "
            f"{mn} AS min_repr, {mx} AS max_repr FROM lineitem"
        )
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


@query("profile_lineitem", _profile_oracle_sql())
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset profiling over lineitem — per column row count,
    null count, and canonical min/max renderings (integer/string/date
    columns only; float min/max and HLL distincts stay on the human
    surface, operators/profile.profile). All columns aggregate in ONE
    scan (operators/profile.profile_exact) — at 100 TB the scan is the
    cost and it is paid once."""
    from ..operators.profile import profile_exact

    li = load_table(spark, sf_dir, "lineitem")
    return profile_exact(li).orderBy("column")


# ---------------------------------------------------------------------------
# Skew-proof aggregation — the salted two-phase groupBy, adjudicated
# against the plain GROUP BY (bit-equal by decimal-exact partials)
# ---------------------------------------------------------------------------
@query(
    "skew_salted_agg",
    f"""
    SELECT l_returnflag,
           {e_int_sql("SUM(CAST(l_quantity AS DECIMAL(20,4)))")} AS sum_qty_e4,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-mitigation primitive under adjudication: a two-phase
    salted aggregation (partial per (key, salt), merge per key —
    operators/skew.salted_aggregate) must equal the plain GROUP BY
    bit-for-bit, which the decimal-exact partial sums guarantee
    regardless of salt bucketing or merge order. This is the shape that
    absorbs a pathological hot key (one key >> 1/parallelism of all
    rows) that AQE's skew-join splitting cannot re-plan."""
    from ..functions.numeric import e_int
    from ..operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        [
            F.sum(F.col("l_quantity").cast("decimal(20,4)")).alias("s"),
            F.count("*").alias("c"),
        ],
        lambda: [F.sum("s").alias("sum_qty_dec"), F.sum("c").alias("n")],
    )
    return out.select(
        "l_returnflag",
        e_int(F.col("sum_qty_dec")).alias("sum_qty_e4"),
        F.col("n").cast("bigint").alias("n"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Temporal operators + contamination, adjudicated
# ---------------------------------------------------------------------------
@query(
    "range_join_pairs",
    """
    SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM events a JOIN events b ON a.user_id = b.user_id
      AND epoch_us(b.ts) >= epoch_us(a.ts) + 1
      AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
    GROUP BY 1 ORDER BY 1
    """,
)
def range_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user count of event pairs within (0s, 1h] — the bucketized
    range join (operators/rangejoin.range_join: interval -> two-bucket
    equi join + exact residual, never a BroadcastNestedLoopJoin) against
    the oracle's plain non-equi join. Work is per-bucket |L|x|R|, not
    global |L|x|R| — the difference between a shuffle join and a
    quadratic broadcast at 100 TB."""
    from ..operators.rangejoin import range_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = range_join(e, e, lo_seconds=0.000001, hi_seconds=3600.0, key="user_id")
    return (
        out.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("user_id")
    )


@query(
    "rollup_events",
    f"""
    SELECT 'hour' AS granularity,
           CAST(EXTRACT(EPOCH FROM date_trunc('hour', ts)) AS BIGINT) AS bucket_start_epoch,
           event_type, CAST(COUNT(*) AS BIGINT) AS n,
           {e_int_sql("SUM(CAST(value AS DECIMAL(20,4)))")} AS total_value_e4
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day',
           CAST(EXTRACT(EPOCH FROM date_trunc('day', ts)) AS BIGINT),
           event_type, CAST(COUNT(*) AS BIGINT),
           {e_int_sql("SUM(CAST(value AS DECIMAL(20,4)))")}
    FROM events GROUP BY 2, 3
    ORDER BY granularity, bucket_start_epoch, event_type
    """,
)
def rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity continuous aggregate (hour + day x event_type)
    in ONE scan via grouping sets (operators/rangejoin.time_rollup) —
    the oracle states the same result as two plain GROUP BYs. At 100 TB
    the grouping-sets form reads events once instead of once per
    granularity."""
    from ..functions.numeric import e_int
    from ..operators.rangejoin import time_rollup

    e = load_table(spark, sf_dir, "events")
    out = time_rollup(
        e,
        ["hour", "day"],
        [
            F.count("*").cast("bigint").alias("n"),
            e_int(F.sum(F.col("value").cast("decimal(20,4)"))).alias("total_value_e4"),
        ],
        group_cols=["event_type"],
    )
    return out.orderBy("granularity", "bucket_start_epoch", "event_type")


@query(
    "pipe_contamination",
    rf"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS t
        FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 7), ' ') AS shingle
        FROM toks, UNNEST(range(1, LEN(t) - 6)) r(i)
        WHERE LEN(t) >= 8),
    tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0),
    ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 20 = 0)
    SELECT tr.doc_id, ev.eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM tr JOIN ev USING (shingle)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def pipe_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan, adjudicated: train docs (doc_id not
    divisible by 20) that share a verbatim 8-gram with the held-out eval
    slice (doc_id divisible by 20). The Spark side joins on md5 digests
    with the eval side broadcast (operators/pipeline.contamination_check
    — shuffle carries 32-byte hashes, never text); the oracle joins the
    raw shingles — identical pair counts."""
    from ..operators.pipeline import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    out = contamination_check(train, ev, shingle_size=8)
    return out.orderBy("doc_id", "eval_id")


# ---------------------------------------------------------------------------
# Custom stateful streaming operator (applyInPandasWithState), adjudicated:
# the per-user online anomaly fold re-stated as a DuckDB list_reduce over
# the identically-ordered value sequence — count/mean/anomaly updates are
# the same IEEE double operations in the same order, so the integer
# outputs (running_count, n_anomalies) hash-match; the float mean stays
# off the adjudicated surface.
# ---------------------------------------------------------------------------
@query(
    "stream_stateful_anomalies",
    """
    WITH ordered AS (
        -- order at MICROSECOND precision (epoch_us), not raw storage
        -- precision: the Spark stream normalizes nanos to micros, so a
        -- nanos-typed file would otherwise break same-microsecond ties
        -- differently in the two engines
        SELECT user_id, list(value ORDER BY epoch_us(ts), event_id) AS vs
        FROM events GROUP BY user_id),
    folded AS (
        -- DuckDB 1.0 list_reduce evaluates struct-accumulator fields
        -- SEQUENTIALLY (a later field reads an earlier field's already-
        -- updated value), so the fold is written to never read an
        -- earlier-declared acc field: the element carries its own
        -- 1-based index instead of the fold counting. Element structs
        -- must share the accumulator's type, so the index rides in
        -- 'anom' and the value in 'mean'.
        SELECT user_id, len(vs) AS n,
               list_reduce(
                 list_prepend(
                   struct_pack(anom := CAST(0 AS BIGINT),
                               mean := CAST(0.0 AS DOUBLE)),
                   list_transform(range(1, len(vs) + 1),
                     i -> struct_pack(anom := CAST(i AS BIGINT),
                                      mean := CAST(vs[i] AS DOUBLE)))),
                 (acc, x) -> struct_pack(
                    anom := acc.anom + CASE WHEN x.anom > 1
                                            AND x.mean > 3.0 * acc.mean
                                            THEN 1 ELSE 0 END,
                    mean := acc.mean + (x.mean - acc.mean)
                            / CAST(x.anom AS DOUBLE))
               ) AS st
        FROM ordered)
    SELECT user_id, CAST(n AS BIGINT) AS running_count, st.anom AS n_anomalies
    FROM folded ORDER BY user_id
    """,
)
def stream_stateful_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming path under external adjudication:
    applyInPandasWithState keeps a (count, mean) state per user across
    micro-batches and flags values above 3x the running mean
    (streaming/stateful.running_mean_anomalies). The fold is ordered by
    (ts, event_id), so the oracle's sequential list_reduce performs the
    SAME double operations in the SAME order — integer outputs match
    bit-for-bit. Multi-batch replays still match: running_count is the
    max across batch rows, anomalies sum."""
    from ..streaming.stateful import running_mean_anomalies
    from ..streaming.windows import run_to_memory_sink, state_partitions, stream_events

    ev = stream_events(spark, sf_dir).select("ts", "event_id", "user_id", "value")
    out = running_mean_anomalies(ev, sigma_factor=3.0)
    with state_partitions(spark, 8):
        sunk = run_to_memory_sink(
            out, f"stream_stateful_{next(_STREAM_SEQ)}", "append"
        )
    return (
        sunk.groupBy("user_id")
        .agg(
            F.max("running_count").cast("bigint").alias("running_count"),
            F.sum("n_anomalies").cast("bigint").alias("n_anomalies"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# CDC MERGE (apply_changes), adjudicated: base snapshot + changelog ->
# final table under SQL MERGE semantics, as ONE max_by aggregate
# ---------------------------------------------------------------------------
@query(
    "q45_apply_changes",
    f"""
    WITH ev AS (SELECT event_id, user_id, event_type, ts, value FROM events),
    snap AS (SELECT user_id, event_type, event_id, ts, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE event_id % 3 = 0) t WHERE rn = 1),
    chg AS (SELECT user_id, event_type, event_id, ts, value,
                   CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op
            FROM ev WHERE event_id % 3 <> 0),
    allv AS (SELECT user_id, event_type, 0 AS src, CAST(NULL AS VARCHAR) AS op,
                    event_id, ts, value FROM snap
             UNION ALL
             SELECT user_id, event_type, 1, op, event_id, ts, value FROM chg),
    win AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY src DESC, ts DESC) AS rn
        FROM allv) t WHERE rn = 1)
    SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           {e_int_sql('value')} AS value_e4
    FROM win WHERE op IS NULL OR op <> 'D'
    ORDER BY user_id, event_type
    """,
)
def q45_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MERGE semantics as one aggregate (operators/cdc.apply_changes):
    a base snapshot (latest event per (user, type) among event_id % 3 ==
    0) merged with a changelog (the remaining events; every 7th id is a
    delete) — the latest change per key beats older changes and the
    snapshot, delete-winners drop out. One max_by hash aggregate with
    map-side partial combining: the exchange carries ~|keys| rows, not
    |versions| — no per-key window sort on a 100 TB changelog."""
    from ..functions.numeric import e_int
    from ..operators.cdc import apply_changes, latest_snapshot

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    snap = latest_snapshot(
        ev.filter(F.col("event_id") % 3 == 0),
        ["user_id", "event_type"],
        ts_col="ts",
        tiebreak=["event_id"],
    )
    chg = ev.filter(F.col("event_id") % 3 != 0).withColumn(
        "op", F.when(F.col("event_id") % 7 == 0, F.lit("D")).otherwise(F.lit("U"))
    )
    merged = apply_changes(snap, chg, ["user_id", "event_type"], ts_col="ts")
    return merged.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).cast("bigint").alias("ts_us"),
        e_int(F.col("value")).alias("value_e4"),
    ).orderBy("user_id", "event_type")


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
# space, then compare pairs ONLY within a cluster — the trick that makes
# embedding-level dedup tractable at corpus scale (within-cluster
# all-pairs is bounded by cluster size, and k grows with N). Adjudicated
# end to end: the fixed-point K-Means assignments are engine-exact, and
# the within-cluster cosines use the e8 integer kernel.
# ---------------------------------------------------------------------------
_SEM_TOP = 5  # top pairs per cluster on the adjudicated surface
_SEM_TARGET = 50  # target cluster size: small enough that the coarse
# quantizer actually PRUNES at the adjudicated corpus (n=500 → k=10,
# n_list=5, n_probe=2 of 5) — at 500 the hierarchy would degenerate to
# the exact assignment there and never be exercised by the gate
_SEM_NPROBE = 2


def _semantic_ivf_ctes(k_sql: str, c_sql: str, n_probe: int, src: str = "embeddings") -> str:
    """The hierarchically-assigned fixed-point K-Means CTE chain through
    the final assignment table ``a2`` (doc_id, cluster, dist2) — the SQL
    replay of operators/kmeans.kmeans_fixedpoint_ivf, stage for stage:
    fine seeds → coarse codebook G (2-pass Lloyd over the k seed
    vectors) → per pass: quantize fine centroids to lists (cmap), rank
    each doc's n_probe nearest NONEMPTY lists (probes), exact argmin
    over the fine centroids in those lists only. Every key is
    x2 + c2 − 2·dot over e4 ints with (key, id) tie-breaks, so both
    engines replay the identical clustering."""
    return f"""w AS MATERIALIZED (
        SELECT vec_id AS doc_id,
               generate_subscripts(embedding, 1) - 1 AS word,
               {e_int_sql('CAST(unnest(embedding) AS DOUBLE)', 4)} AS w
        FROM {src}),
    d2 AS MATERIALIZED (SELECT doc_id, SUM(w * w) AS x2 FROM w GROUP BY doc_id),
    seeds AS MATERIALIZED (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS INT) AS j
              FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
                    FROM (SELECT DISTINCT doc_id FROM w) t
                    ORDER BY h, doc_id LIMIT {k_sql}) s),
    f0 AS MATERIALIZED (SELECT s.j, w.word, w.w AS cw FROM w JOIN seeds s USING (doc_id)
           WHERE w.w <> 0),
    sd2 AS MATERIALIZED (SELECT j, SUM(cw * cw) AS x2 FROM f0 GROUP BY j),
    cseeds AS MATERIALIZED (SELECT j, CAST(ROW_NUMBER() OVER (ORDER BY h, j) - 1 AS INT) AS m
               FROM (SELECT j, md5(CAST(j AS VARCHAR)) AS h
                     FROM (SELECT DISTINCT j FROM f0) t
                     ORDER BY h, j LIMIT {c_sql}) s),
    g0 AS MATERIALIZED (SELECT cs.m, f.word, f.cw AS gw FROM f0 f JOIN cseeds cs USING (j)),
    g0n AS MATERIALIZED (SELECT m, SUM(gw * gw) AS g2 FROM g0 GROUP BY m),
    cdot1 AS MATERIALIZED (SELECT f.j, g0.m, SUM(f.cw * g0.gw) AS dot
              FROM f0 f JOIN g0 USING (word) GROUP BY 1, 2),
    ca1 AS MATERIALIZED (SELECT j, m FROM (
            SELECT sd2.j, g0n.m,
                   ROW_NUMBER() OVER (PARTITION BY sd2.j
                       ORDER BY sd2.x2 + g0n.g2 - 2 * COALESCE(cdot1.dot, 0), g0n.m) AS rn
            FROM sd2 CROSS JOIN g0n
            LEFT JOIN cdot1 ON cdot1.j = sd2.j AND cdot1.m = g0n.m) t WHERE rn = 1),
    gsize AS MATERIALIZED (SELECT m, COUNT(*) AS n FROM ca1 GROUP BY m),
    g AS MATERIALIZED (SELECT m, word, gw FROM (
            SELECT t.m, t.word, CAST((2 * t.s + c.n) // (2 * c.n) AS BIGINT) AS gw
            FROM (SELECT ca1.m, f.word, SUM(f.cw) AS s
                  FROM f0 f JOIN ca1 USING (j) GROUP BY 1, 2) t
            JOIN gsize c USING (m)) u WHERE gw <> 0),
    gn AS MATERIALIZED (SELECT m, SUM(gw * gw) AS g2 FROM g GROUP BY m),
    cdot2 AS MATERIALIZED (SELECT f.j, g.m, SUM(f.cw * g.gw) AS dot
              FROM f0 f JOIN g USING (word) GROUP BY 1, 2),
    cmap1 AS MATERIALIZED (SELECT j, m FROM (
            SELECT sd2.j, gn.m,
                   ROW_NUMBER() OVER (PARTITION BY sd2.j
                       ORDER BY sd2.x2 + gn.g2 - 2 * COALESCE(cdot2.dot, 0), gn.m) AS rn
            FROM sd2 CROSS JOIN gn
            LEFT JOIN cdot2 ON cdot2.j = sd2.j AND cdot2.m = gn.m) t WHERE rn = 1),
    gdots AS MATERIALIZED (SELECT w.doc_id, g.m, SUM(w.w * g.gw) AS dot
              FROM w JOIN g USING (word) GROUP BY 1, 2),
    lists1 AS MATERIALIZED (SELECT DISTINCT m FROM cmap1),
    probes1 AS MATERIALIZED (SELECT doc_id, m FROM (
            SELECT d2.doc_id, gl.m,
                   ROW_NUMBER() OVER (PARTITION BY d2.doc_id
                       ORDER BY d2.x2 + gl.g2 - 2 * COALESCE(gd.dot, 0), gl.m) AS rn
            FROM d2 CROSS JOIN (SELECT gn.m, gn.g2 FROM gn JOIN lists1 USING (m)) gl
            LEFT JOIN gdots gd ON gd.doc_id = d2.doc_id AND gd.m = gl.m) t
            WHERE rn <= {n_probe}),
    cand1 AS MATERIALIZED (SELECT p.doc_id, c.j FROM probes1 p JOIN cmap1 c USING (m)),
    f0n AS MATERIALIZED (SELECT j, SUM(cw * cw) AS c2 FROM f0 GROUP BY j),
    fdot1 AS MATERIALIZED (SELECT c.doc_id, c.j, SUM(w.w * f.cw) AS dot
              FROM cand1 c JOIN w USING (doc_id)
              JOIN f0 f ON f.j = c.j AND f.word = w.word
              GROUP BY 1, 2),
    a1 AS MATERIALIZED (SELECT doc_id, j AS cluster FROM (
            SELECT c.doc_id, c.j,
                   ROW_NUMBER() OVER (PARTITION BY c.doc_id
                       ORDER BY d2.x2 + COALESCE(f0n.c2, 0) - 2 * COALESCE(fd.dot, 0), c.j) AS rn
            FROM cand1 c JOIN d2 USING (doc_id)
            LEFT JOIN f0n ON f0n.j = c.j
            LEFT JOIN fdot1 fd ON fd.doc_id = c.doc_id AND fd.j = c.j) t WHERE rn = 1),
    csize1 AS MATERIALIZED (SELECT cluster, COUNT(*) AS n FROM a1 GROUP BY cluster),
    c1 AS MATERIALIZED (SELECT cluster, word, cw FROM (
            SELECT t.cluster, t.word, CAST((2 * t.s + c.n) // (2 * c.n) AS BIGINT) AS cw
            FROM (SELECT a1.cluster, w.word, SUM(w.w) AS s
                  FROM w JOIN a1 USING (doc_id) GROUP BY 1, 2) t
            JOIN csize1 c USING (cluster)) u WHERE cw <> 0),
    c1d2 AS MATERIALIZED (SELECT cluster, SUM(cw * cw) AS x2 FROM c1 GROUP BY cluster),
    rqdot AS MATERIALIZED (SELECT c1.cluster, g.m, SUM(c1.cw * g.gw) AS dot
              FROM c1 JOIN g USING (word) GROUP BY 1, 2),
    cmap2 AS MATERIALIZED (SELECT cluster AS j, m FROM (
            SELECT c1d2.cluster, gn.m,
                   ROW_NUMBER() OVER (PARTITION BY c1d2.cluster
                       ORDER BY c1d2.x2 + gn.g2 - 2 * COALESCE(rq.dot, 0), gn.m) AS rn
            FROM c1d2 CROSS JOIN gn
            LEFT JOIN rqdot rq ON rq.cluster = c1d2.cluster AND rq.m = gn.m) t WHERE rn = 1),
    lists2 AS MATERIALIZED (SELECT DISTINCT m FROM cmap2),
    probes2 AS MATERIALIZED (SELECT doc_id, m FROM (
            SELECT d2.doc_id, gl.m,
                   ROW_NUMBER() OVER (PARTITION BY d2.doc_id
                       ORDER BY d2.x2 + gl.g2 - 2 * COALESCE(gd.dot, 0), gl.m) AS rn
            FROM d2 CROSS JOIN (SELECT gn.m, gn.g2 FROM gn JOIN lists2 USING (m)) gl
            LEFT JOIN gdots gd ON gd.doc_id = d2.doc_id AND gd.m = gl.m) t
            WHERE rn <= {n_probe}),
    cand2 AS MATERIALIZED (SELECT p.doc_id, c.j FROM probes2 p JOIN cmap2 c USING (m)),
    c1n AS MATERIALIZED (SELECT cluster AS j, SUM(cw * cw) AS c2 FROM c1 GROUP BY cluster),
    fdot2 AS MATERIALIZED (SELECT c.doc_id, c.j, SUM(w.w * f.cw) AS dot
              FROM cand2 c JOIN w USING (doc_id)
              JOIN c1 f ON f.cluster = c.j AND f.word = w.word
              GROUP BY 1, 2),
    a2 AS (SELECT doc_id, cluster, dist2 FROM (
            SELECT c.doc_id, c.j AS cluster,
                   d2.x2 + COALESCE(c1n.c2, 0) - 2 * COALESCE(fd.dot, 0) AS dist2,
                   ROW_NUMBER() OVER (PARTITION BY c.doc_id
                       ORDER BY d2.x2 + COALESCE(c1n.c2, 0) - 2 * COALESCE(fd.dot, 0), c.j) AS rn
            FROM cand2 c JOIN d2 USING (doc_id)
            LEFT JOIN c1n ON c1n.j = c.j
            LEFT JOIN fdot2 fd ON fd.doc_id = c.doc_id AND fd.j = c.j) t WHERE rn = 1)"""


def _semantic_oracle_sql() -> str:
    # Every knob derived from the corpus INSIDE the oracle — the same
    # rules as semantic_near_dups(k="auto", assign="ivf"):
    # k = max(2, ceil(n / target)), n_list = max(2, ceil(sqrt(2k))).
    # The adjudicated artifact is therefore the scale-safe form END TO
    # END: self-scaling k AND the hierarchical assignment that kills the
    # n²/target Lloyd term (the round-5 verdict's remaining scale-killer).
    return f"""
    WITH nk AS (SELECT GREATEST(2, CAST(CEIL(COUNT(*) / {_SEM_TARGET}.0) AS INT)) AS k,
                       GREATEST(2, CAST(CEIL(SQRT(2.0 * GREATEST(2,
                           CAST(CEIL(COUNT(*) / {_SEM_TARGET}.0) AS INT)))) AS INT)) AS c
                FROM embeddings),
    {_semantic_ivf_ctes("(SELECT k FROM nk)", "(SELECT c FROM nk)", _SEM_NPROBE)},
    pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.cluster
              FROM a2 x JOIN a2 y
                ON x.cluster = y.cluster AND x.doc_id < y.doc_id),
    ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    dots AS (SELECT p.cluster, p.id_a, p.id_b,
                    SUM(CAST(ROUND(xa.x * xb.x * 100000000.0) AS BIGINT)) AS dot
             FROM pairs p
             JOIN ex xa ON xa.vec_id = p.id_a
             JOIN ex xb ON xb.vec_id = p.id_b AND xb.i = xa.i
             GROUP BY 1, 2, 3),
    nrms AS (SELECT vec_id,
                    SQRT(CAST(SUM(CAST(ROUND(x * x * 100000000.0) AS BIGINT)) AS DOUBLE)
                         / 100000000.0) AS nrm
             FROM ex GROUP BY vec_id),
    scored AS (SELECT d.cluster, d.id_a, d.id_b,
                      CAST(ROUND(ROUND((CAST(d.dot AS DOUBLE) / 100000000.0)
                                       / (na.nrm * nb.nrm), 6) * 1000000) AS BIGINT)
                        AS cosine_e6
               FROM dots d JOIN nrms na ON na.vec_id = d.id_a
               JOIN nrms nb ON nb.vec_id = d.id_b),
    top AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
                                     ORDER BY cosine_e6 DESC, id_a, id_b) AS rn
        FROM scored) t WHERE rn <= {_SEM_TOP})
    SELECT cluster, id_a, id_b, cosine_e6
    FROM top ORDER BY cluster, cosine_e6 DESC, id_a, id_b
    """


@query("dedup_semantic", _semantic_oracle_sql())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup, scale-safe end to end: cluster the
    embeddings with the HIERARCHICALLY-assigned fixed-point K-Means
    (kmeans_fixedpoint_ivf — each doc probes its 2 nearest coarse lists
    and argmins over only those lists' fine centroids, killing the
    n²/target exact-Lloyd term, the round-5 verdict's one remaining
    super-linear curve), then score cosine ONLY within each cluster and
    surface the top 5 most-similar pairs per cluster. Every knob derives
    from COUNT(*) on BOTH engines: k = max(2, ceil(n/50)),
    n_list = max(2, ceil(sqrt(2k))) — target 50 so the quantizer
    actually PRUNES at the adjudicated corpus (n=500 → k=10, 2-of-5
    lists probed; at target 500 the hierarchy would degenerate there and
    the gate would never exercise it). The oracle replays the whole
    hierarchy stage for stage (_semantic_ivf_ctes); cosines use the e8
    fixed-point pair kernel (bit-identical to _dot_i64) — engine-exact
    end to end."""
    from ..operators.dedup import semantic_near_dups

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_near_dups(
        emb, k="auto", target_cluster_size=_SEM_TARGET, top_per_cluster=_SEM_TOP,
        assign="ivf", n_probe=_SEM_NPROBE,
    )
    return out.orderBy("cluster", F.desc("cosine_e6"), "id_a", "id_b")


# ---------------------------------------------------------------------------
# SemDeDup's END: the per-doc keep/drop VERDICT (round 6) — the output a
# training-data pipeline consumes. Same hierarchical clustering chain,
# within-cluster cosines thresholded at eps, drop = exists a LOWER-id
# witness at/above eps in the same cluster (the deterministic min-id
# form of keep-one-per-duplicate-set; no components needed — one
# EXISTS/anti-join decides each doc).
# ---------------------------------------------------------------------------
_SEM_KEEP_EPS_E6 = 990_000  # cosine >= 0.99 collapses a duplicate set


def _semantic_keep_oracle_sql() -> str:
    # The raw table has no dedup-grade pairs (max pairwise cosine 0.51),
    # so both sides plant deterministic twins — every 20th vector
    # rescaled by 1.02 under vec_id + (max+1), cosine 1.0 with its base
    # — making the DROP branch non-vacuous on the adjudicated surface
    # (the dedup_embedding_cosine convention).
    return f"""
    WITH src AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings),
               list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.02)
        FROM embeddings WHERE vec_id % 20 = 0),
    nk AS (SELECT GREATEST(2, CAST(CEIL(COUNT(*) / {_SEM_TARGET}.0) AS INT)) AS k,
                  GREATEST(2, CAST(CEIL(SQRT(2.0 * GREATEST(2,
                      CAST(CEIL(COUNT(*) / {_SEM_TARGET}.0) AS INT)))) AS INT)) AS c
           FROM src),
    {_semantic_ivf_ctes("(SELECT k FROM nk)", "(SELECT c FROM nk)", _SEM_NPROBE, "src")},
    kpairs AS MATERIALIZED (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b
        FROM a2 x JOIN a2 y
          ON x.cluster = y.cluster AND x.doc_id < y.doc_id),
    kex AS MATERIALIZED (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM src),
    kdots AS MATERIALIZED (
        SELECT p.id_a, p.id_b,
               SUM(CAST(ROUND(xa.x * xb.x * 100000000.0) AS BIGINT)) AS dot
        FROM kpairs p
        JOIN kex xa ON xa.vec_id = p.id_a
        JOIN kex xb ON xb.vec_id = p.id_b AND xb.i = xa.i
        GROUP BY 1, 2),
    knrms AS MATERIALIZED (
        SELECT vec_id,
               SQRT(CAST(SUM(CAST(ROUND(x * x * 100000000.0) AS BIGINT)) AS DOUBLE)
                    / 100000000.0) AS nrm
        FROM kex GROUP BY vec_id),
    dropped AS MATERIALIZED (
        SELECT DISTINCT d.id_b AS doc_id
        FROM kdots d JOIN knrms na ON na.vec_id = d.id_a
        JOIN knrms nb ON nb.vec_id = d.id_b
        WHERE CAST(ROUND(ROUND((CAST(d.dot AS DOUBLE) / 100000000.0)
                               / (na.nrm * nb.nrm), 6) * 1000000) AS BIGINT)
              >= {_SEM_KEEP_EPS_E6})
    SELECT a2.doc_id, a2.cluster,
           CAST(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM a2 LEFT JOIN dropped dr USING (doc_id)
    ORDER BY doc_id
    """


@query("dedup_semantic_keep", _semantic_keep_oracle_sql())
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end to end, VERDICT included: the hierarchical
    fixed-point clustering (same chain as dedup_semantic), within-
    cluster e8 cosines, and the per-doc keep/drop decision — a doc is
    dropped iff a LOWER-id doc in its cluster scores cosine >= 0.99
    (the deterministic min-id form of Abbas et al.'s keep-one-per-
    duplicate-set; one anti-join, no connected components, no new
    quadratic term). Emits (doc_id, cluster, kept) for EVERY doc, so
    the adjudicated surface covers the kept majority AND the dropped
    near-dup tail (the generator plants ~2% perturbation twins).
    Every knob COUNT(*)-derived on both engines, the oracle replaying
    planting, clustering, scoring, and election verbatim. The raw table
    has no >= 0.99 pairs, so both sides plant the deterministic
    1.02-rescaled twins (every 20th vector, ids offset by max+1 — the
    dedup_embedding_cosine convention) and the drop branch adjudicates
    on real casualties instead of vacuously keeping everything."""
    from ..operators.dedup import semantic_keep

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
    out = semantic_keep(
        emb.unionByName(twins), eps=0.99, k="auto",
        target_cluster_size=_SEM_TARGET, assign="ivf", n_probe=_SEM_NPROBE,
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# Incremental SemDeDup (round 6): batch×corpus — train the hierarchical
# clustering on the corpus ONCE, quantize each batch doc through the
# SAME trained model (centroids never move), score only against the
# corpus members of its cluster. The semantic twin of dedup_incremental.
# ---------------------------------------------------------------------------
def _semantic_incr_oracle_sql() -> str:
    # corpus = vec_id % 5 != 0; batch = the rest PLUS planted
    # 1.02-rescaled twins of corpus docs (vec_id % 20 == 1 is always in
    # the corpus), so the dup-found branch adjudicates real hits.
    return f"""
    WITH corpus AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
    batch AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
        UNION ALL
        SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings),
               list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.02)
        FROM embeddings WHERE vec_id % 20 = 1),
    nk AS (SELECT GREATEST(2, CAST(CEIL(COUNT(*) / {_SEM_TARGET}.0) AS INT)) AS k,
                  GREATEST(2, CAST(CEIL(SQRT(2.0 * GREATEST(2,
                      CAST(CEIL(COUNT(*) / {_SEM_TARGET}.0) AS INT)))) AS INT)) AS c
           FROM corpus),
    {_semantic_ivf_ctes("(SELECT k FROM nk)", "(SELECT c FROM nk)", _SEM_NPROBE, "corpus")},
    wb AS MATERIALIZED (
        SELECT vec_id AS doc_id,
               generate_subscripts(embedding, 1) - 1 AS word,
               {e_int_sql('CAST(unnest(embedding) AS DOUBLE)', 4)} AS w
        FROM batch),
    bd2 AS MATERIALIZED (SELECT doc_id, SUM(w * w) AS x2 FROM wb GROUP BY doc_id),
    bgd AS MATERIALIZED (SELECT wb.doc_id, g.m, SUM(wb.w * g.gw) AS dot
                         FROM wb JOIN g USING (word) GROUP BY 1, 2),
    bprobes AS MATERIALIZED (SELECT doc_id, m FROM (
            SELECT bd2.doc_id, gl.m,
                   ROW_NUMBER() OVER (PARTITION BY bd2.doc_id
                       ORDER BY bd2.x2 + gl.g2 - 2 * COALESCE(bgd.dot, 0), gl.m) AS rn
            FROM bd2 CROSS JOIN (SELECT gn.m, gn.g2 FROM gn JOIN lists2 USING (m)) gl
            LEFT JOIN bgd ON bgd.doc_id = bd2.doc_id AND bgd.m = gl.m) t
            WHERE rn <= {_SEM_NPROBE}),
    bcand AS MATERIALIZED (SELECT p.doc_id, c.j FROM bprobes p JOIN cmap2 c USING (m)),
    bfdot AS MATERIALIZED (SELECT c.doc_id, c.j, SUM(wb.w * f.cw) AS dot
            FROM bcand c JOIN wb USING (doc_id)
            JOIN c1 f ON f.cluster = c.j AND f.word = wb.word
            GROUP BY 1, 2),
    ba AS MATERIALIZED (SELECT doc_id, cluster FROM (
            SELECT c.doc_id, c.j AS cluster,
                   ROW_NUMBER() OVER (PARTITION BY c.doc_id
                       ORDER BY bd2.x2 + COALESCE(c1n.c2, 0) - 2 * COALESCE(fd.dot, 0), c.j) AS rn
            FROM bcand c JOIN bd2 USING (doc_id)
            LEFT JOIN c1n ON c1n.j = c.j
            LEFT JOIN bfdot fd ON fd.doc_id = c.doc_id AND fd.j = c.j) t WHERE rn = 1),
    bpairs AS MATERIALIZED (SELECT ba.doc_id AS id_b, a2.doc_id AS id_a
            FROM ba JOIN a2 ON a2.cluster = ba.cluster),
    iex AS MATERIALIZED (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i FROM corpus
        UNION ALL
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE),
               generate_subscripts(embedding, 1) FROM batch),
    idots AS MATERIALIZED (
        SELECT p.id_b, p.id_a,
               SUM(CAST(ROUND(xa.x * xb.x * 100000000.0) AS BIGINT)) AS dot
        FROM bpairs p
        JOIN iex xa ON xa.vec_id = p.id_a
        JOIN iex xb ON xb.vec_id = p.id_b AND xb.i = xa.i
        GROUP BY 1, 2),
    inrm AS MATERIALIZED (
        SELECT vec_id,
               SQRT(CAST(SUM(CAST(ROUND(x * x * 100000000.0) AS BIGINT)) AS DOUBLE)
                    / 100000000.0) AS nrm
        FROM iex GROUP BY vec_id),
    iscore AS MATERIALIZED (
        SELECT d.id_b,
               CAST(ROUND(ROUND((CAST(d.dot AS DOUBLE) / 100000000.0)
                                / (na.nrm * nb.nrm), 6) * 1000000) AS BIGINT) AS cosine_e6
        FROM idots d JOIN inrm na ON na.vec_id = d.id_a
        JOIN inrm nb ON nb.vec_id = d.id_b)
    SELECT ba.doc_id, ba.cluster,
           CAST(COALESCE(SUM(CASE WHEN s.cosine_e6 >= {_SEM_KEEP_EPS_E6}
                                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dups,
           CAST(COALESCE(MAX(s.cosine_e6), -2000000) AS BIGINT) AS max_cosine_e6,
           CAST(CASE WHEN COALESCE(SUM(CASE WHEN s.cosine_e6 >= {_SEM_KEEP_EPS_E6}
                                            THEN 1 ELSE 0 END), 0) = 0
                     THEN 1 ELSE 0 END AS INT) AS is_new
    FROM ba LEFT JOIN iscore s ON s.id_b = ba.doc_id
    GROUP BY ba.doc_id, ba.cluster
    ORDER BY doc_id
    """


@query("dedup_semantic_incremental", _semantic_incr_oracle_sql())
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup (operators/dedup.semantic_incremental), the
    semantic twin of dedup_incremental: the corpus (vec_id % 5 != 0)
    trains the hierarchical fixed-point clustering ONCE; the batch (the
    rest, plus planted 1.02-rescaled twins of corpus docs so the
    dup-found branch adjudicates real hits) is quantized through the
    SAME trained model — one fused kernel pass, centroids never move —
    and each batch doc scores cosines only against the corpus members
    of ITS cluster. One verdict row per batch doc: (doc_id, cluster,
    n_dups, max_cosine_e6, is_new). The oracle replays training, batch
    quantization, and scoring stage for stage; every knob
    COUNT(*)-derived from the corpus on both engines. At 100 TB the
    batch never sees the corpus pairwise and the corpus re-clusters
    zero times per batch."""
    from ..operators.dedup import semantic_incremental

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    _mx = table_column_max(sf_dir, "embeddings", "vec_id")
    if _mx is None:
        _mx = emb.agg(F.max("vec_id")).head()[0]
    off = _mx + 1
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    twins = emb.filter(F.col("vec_id") % 20 == 1).select(
        (F.col("vec_id") + F.lit(int(off))).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.02)).alias("embedding"),
    )
    batch = emb.filter(F.col("vec_id") % 5 == 0).unionByName(twins)
    out = semantic_incremental(
        corpus, batch, eps=0.99, k="auto", target_cluster_size=_SEM_TARGET,
        n_probe=_SEM_NPROBE,
    )
    return out.orderBy("doc_id")


_SSI_SEQ = iter(range(1, 1 << 30))


@query("stream_semantic_incremental", _semantic_incr_oracle_sql())
def stream_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of dedup_semantic_incremental, sharing its
    oracle VERBATIM: the corpus trains the hierarchical model once
    (batch side, identical code path); the batch docs then arrive as an
    UNBOUNDED STREAM (file-source replay, availableNow) and each
    micro-batch pays one fused quantization kernel + a stream-static
    join to its clusters' corpus members + the exact cosine kernel —
    one complete-mode aggregation emits the per-doc verdicts. A doc's
    verdict depends only on the static corpus and its own vector, so
    the result is IDENTICAL however the source slices micro-batches —
    the replay-invariance statement the other stream_* entries make,
    extended to the model-serving shape a production ingest pipeline
    runs. The zero-pair case rides a sentinel row into the aggregation
    (stream-stream outer joins need watermarks; a union does not),
    reproducing the batch COALESCE semantics exactly."""
    from ..operators.kmeans import dense_e4_long_form, kmeans_fixedpoint_ivf_model
    from ..streaming.semantic import semantic_verdicts_stream, stream_embeddings
    from ..streaming.windows import run_to_memory_sink, state_partitions

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    _mx = table_column_max(sf_dir, "embeddings", "vec_id")
    if _mx is None:
        _mx = emb.agg(F.max("vec_id")).head()[0]
    off = _mx + 1
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    k = max(2, -(-corpus.count() // _SEM_TARGET))
    w = dense_e4_long_form(corpus, "vec_id", "embedding")
    dense_c = corpus.select(
        F.col("vec_id").cast("long").alias("doc_id"), F.col("embedding").alias("vec")
    )
    corpus_assign, model = kmeans_fixedpoint_ivf_model(
        w, k, n_probe=_SEM_NPROBE, weight_col="x_e4", dense=dense_c
    )
    twins_b = emb.filter(F.col("vec_id") % 20 == 1).select(
        (F.col("vec_id") + F.lit(int(off))).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.02)).alias("embedding"),
    )
    allemb = corpus.unionByName(
        emb.filter(F.col("vec_id") % 5 == 0).unionByName(twins_b)
    )

    es = stream_embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins_s = es.filter(F.col("vec_id") % 20 == 1).select(
        (F.col("vec_id") + F.lit(int(off))).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.02)).alias("embedding"),
    )
    bstream = es.filter(F.col("vec_id") % 5 == 0).unionByName(twins_s)
    verdicts = semantic_verdicts_stream(
        bstream, corpus_assign, model, allemb, _SEM_KEEP_EPS_E6
    )
    # 4 state partitions, the stream_interval_join precedent: one
    # complete-mode agg holds a few thousand verdict rows, and the
    # per-partition store init/commit dominates at replay scale
    # (measured 3.42s at 8 -> 3.08s at 4 on sf0.1)
    with state_partitions(spark, 4):
        out = run_to_memory_sink(
            verdicts, f"stream_semantic_{next(_SSI_SEQ)}", "complete"
        )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# Bigram LM scoring — one step up the KenLM ladder from ta_unigram_lp
# ---------------------------------------------------------------------------
@query(
    "ta_bigram_lp",
    rf"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS t
        FROM documents),
    bi AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b
           FROM toks, UNNEST(range(1, LEN(t))) r(i) WHERE LEN(t) >= 2),
    btf AS (SELECT doc_id, a, b, COUNT(*) AS tf FROM bi GROUP BY 1, 2, 3),
    cab AS (SELECT a, b, SUM(tf) AS cab FROM btf GROUP BY 1, 2),
    ca AS (SELECT a, SUM(cab) AS ca FROM cab GROUP BY 1),
    cw AS (SELECT word, COUNT(*) AS cw FROM (
        SELECT unnest(t) AS word FROM toks) GROUP BY 1),
    tot AS (SELECT SUM(cw) AS t FROM cw),
    model AS (
        SELECT cab.a, cab.b,
               CAST(ROUND(LN((0.75 * (CAST(cab.cab AS DOUBLE) / CAST(ca.ca AS DOUBLE)))
                             + (0.25 * (CAST(cw.cw AS DOUBLE) / CAST(tot.t AS DOUBLE)))), 8)
                    AS DECIMAL(18,8)) AS lnp
        FROM cab JOIN ca USING (a) JOIN cw ON cw.word = cab.b CROSS JOIN tot),
    per AS (SELECT doc_id, -SUM(CAST(tf AS DECIMAL(12,0)) * lnp) AS s, SUM(tf) AS n
            FROM btf JOIN model USING (a, b) GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_bigrams,
           {e_int_sql('CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END')} AS nll_e4
    FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id
    """,
)
def ta_bigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean negative log-likelihood under the corpus's own interpolated
    bigram model (lam=0.75 bigram + 0.25 unigram backoff) — the
    perplexity-filter stand-in at order 2
    (operators/text_analysis.bigram_logprob). The bigram model table is
    zipf-small and broadcasts; bigrams come from one array transform,
    never a self-join."""
    from ..functions.numeric import e_int
    from ..operators.text_analysis import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    out = bigram_logprob(docs)
    return out.select(
        "doc_id", "n_bigrams", e_int(F.col("nll")).alias("nll_e4")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Trigram LM scoring — the KenLM ladder's next rung (r3 verdict #8)
# ---------------------------------------------------------------------------
@query(
    "ta_trigram_lp",
    rf"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN}') AS t
        FROM documents),
    tri AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b, t[i + 2] AS c
            FROM toks, UNNEST(range(1, LEN(t) - 1)) r(i) WHERE LEN(t) >= 3),
    ttf AS (SELECT doc_id, a, b, c, COUNT(*) AS tf FROM tri GROUP BY 1, 2, 3, 4),
    cabc AS (SELECT a, b, c, SUM(tf) AS cabc FROM ttf GROUP BY 1, 2, 3),
    cab AS (SELECT a, b, SUM(cabc) AS cab FROM cabc GROUP BY 1, 2),
    bi AS (SELECT t[i] AS b, t[i + 1] AS c
           FROM toks, UNNEST(range(1, LEN(t))) r(i) WHERE LEN(t) >= 2),
    cbc AS (SELECT b, c, COUNT(*) AS cbc FROM bi GROUP BY 1, 2),
    cb AS (SELECT b, SUM(cbc) AS cb FROM cbc GROUP BY 1),
    cw AS (SELECT word, COUNT(*) AS cw FROM (
        SELECT unnest(t) AS word FROM toks) GROUP BY 1),
    tot AS (SELECT SUM(cw) AS t FROM cw),
    model AS (
        SELECT cabc.a, cabc.b, cabc.c,
               CAST(ROUND(LN((0.6 * (CAST(cabc.cabc AS DOUBLE) / CAST(cab.cab AS DOUBLE)))
                             + (0.3 * (CAST(cbc.cbc AS DOUBLE) / CAST(cb.cb AS DOUBLE)))
                             + (0.1 * (CAST(cw.cw AS DOUBLE) / CAST(tot.t AS DOUBLE)))), 8)
                    AS DECIMAL(18,8)) AS lnp
        FROM cabc JOIN cab USING (a, b) JOIN cbc USING (b, c) JOIN cb USING (b)
             JOIN cw ON cw.word = cabc.c CROSS JOIN tot),
    per AS (SELECT doc_id, -SUM(CAST(tf AS DECIMAL(12,0)) * lnp) AS s, SUM(tf) AS n
            FROM ttf JOIN model USING (a, b, c) GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_trigrams,
           {e_int_sql('CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0.0 END')} AS nll_e4
    FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id
    """,
)
def ta_trigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean negative log-likelihood under the corpus's own interpolated
    trigram model (0.6 trigram + 0.3 bigram + 0.1 unigram Jelinek-Mercer
    backoff) — the perplexity-filter stand-in at order 3
    (operators/text_analysis.trigram_logprob). All three model tables are
    zipf-small and broadcast; n-grams come from array transforms over one
    tokenization, never a self-join."""
    from ..functions.numeric import e_int
    from ..operators.text_analysis import trigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    out = trigram_logprob(docs)
    return out.select(
        "doc_id", "n_trigrams", e_int(F.col("nll")).alias("nll_e4")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Product quantization — compressed ANN codes + ADC top-k (round 4)
# ---------------------------------------------------------------------------
_PQ_M, _PQ_CODES, _PQ_K = 8, 16, 10


def _pq_adc_sql(k: int, n_codes: int = _PQ_CODES, m: int = _PQ_M) -> str:
    """The hash-matched PQ-ADC chain with parameterized shortlist size,
    codebook size, AND subspace count ``m`` (the engine call's m must
    flow through here — a hardcoded divisor would silently mismatch a
    caller using a different split) — shared by sim_topk_pq (ADC-only
    tier) and sim_topk_pq_rerank (which feeds a larger ADC shortlist
    into the exact re-rank)."""
    if 64 % m:
        raise ValueError(f"64-dim embeddings not divisible by m={m}")
    sub = f"(generate_subscripts(embedding, 1) - 1) // ({64 // m})"
    return f"""
    WITH seeds AS (
        SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                            AS INT) AS c
        FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_codes}),
    cx AS (SELECT s.c, (generate_subscripts(e.embedding, 1) - 1) // ({64 // m}) AS sub,
                  generate_subscripts(e.embedding, 1) AS i,
                  CAST(unnest(e.embedding) AS DOUBLE) AS cv
           FROM embeddings e JOIN seeds s USING (vec_id)),
    c2 AS (SELECT c, sub, SUM(CAST(ROUND(cv * cv * {_E8}) AS BIGINT)) AS c2
           FROM cx GROUP BY 1, 2),
    ex AS (SELECT vec_id, {sub} AS sub,
                  generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
    dots AS (SELECT e.vec_id, c.c, e.sub, SUM(CAST(ROUND(e.x * c.cv * {_E8}) AS BIGINT)) AS dot
             FROM ex e JOIN cx c ON c.i = e.i GROUP BY 1, 2, 3),
    codes AS (SELECT vec_id, sub, c FROM (
        SELECT d.vec_id, d.sub, d.c,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.sub
                                  ORDER BY c2.c2 - 2 * d.dot, d.c) AS rn
        FROM dots d JOIN c2 ON c2.c = d.c AND c2.sub = d.sub) t WHERE rn = 1),
    qx AS (SELECT (generate_subscripts(embedding, 1) - 1) // 8 AS sub,
                  generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS q
           FROM embeddings WHERE vec_id = 0),
    q2 AS (SELECT sub, SUM(CAST(ROUND(q * q * {_E8}) AS BIGINT)) AS q2 FROM qx GROUP BY 1),
    qdots AS (SELECT c.c, c.sub, SUM(CAST(ROUND(q.q * c.cv * {_E8}) AS BIGINT)) AS qdot
              FROM qx q JOIN cx c ON c.i = q.i GROUP BY 1, 2),
    adc AS (SELECT qd.c, qd.sub, q2.q2 + c2.c2 - 2 * qd.qdot AS cell
            FROM qdots qd JOIN q2 USING (sub) JOIN c2 ON c2.c = qd.c AND c2.sub = qd.sub),
    scores AS (SELECT k.vec_id, SUM(a.cell) AS adc_e8
               FROM codes k JOIN adc a ON a.sub = k.sub AND a.c = k.c GROUP BY 1)
    SELECT vec_id, CAST(adc_e8 AS BIGINT) AS adc_e8
    FROM scores ORDER BY adc_e8, vec_id LIMIT {k}
    """


@query("sim_topk_pq", _pq_adc_sql(_PQ_K))
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 to the vec_id=0 embedding — the
    compressed-codes ANN tier (m=8 subspaces × 16 codes: vectors scan as
    8 small ints instead of 64 floats), hash-matched end to end because
    codebook pick, per-subspace code assignment, and the ADC lookup sums
    are all e8 fixed-point integers (operators/similarity.pq_topk;
    codebook = the md5-min seed family shared with the IVF quantizer)."""
    from ..operators import similarity as sim_mod

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return sim_mod.pq_topk(emb, qvec, k=_PQ_K, m=_PQ_M, n_codes=_PQ_CODES)


# ---------------------------------------------------------------------------
# PQ-ADC shortlist → exact re-rank — the next rung of the ANN ladder
# ---------------------------------------------------------------------------
_PQR_CODES, _PQR_MULT = 32, 8  # codebook size; shortlist = mult × k


@query(
    "sim_topk_pq_rerank",
    f"""
    WITH cand AS (SELECT vec_id FROM ({_pq_adc_sql(_PQR_MULT * _PQ_K, _PQR_CODES)}) s),
    ex2 AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qx AS (SELECT CAST(unnest(qv) AS DOUBLE) AS qxv, generate_subscripts(qv, 1) AS i FROM q),
    cex AS (SELECT e.vec_id, e.x, e.i FROM ex2 e JOIN cand c ON c.vec_id = e.vec_id),
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
    ORDER BY score_e6 DESC, vec_id LIMIT {_PQ_K}
    """,
)
def sim_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC → exact re-rank, the composition pq_topk documents as the
    standard follow-up (operators/similarity.pq_rerank_topk): the ADC
    tier (m=8 × 32-code codebook) keeps an 8k shortlist, then the exact
    e8 cosine kernel re-scores ONLY those 80 rows and returns the top
    10 — scores identical to sim_topk_cosine's kernel, so precision is
    1.0 and recall = shortlist containment (measured 0.9 at this budget,
    1.0 at 16k; curve in SCALING.md). The oracle composes the two
    already-adjudicated CTE chains verbatim, so the full two-tier
    pipeline is hash-matched. At 100 TB the corpus scan stays m bytes
    per vector and the exact pass touches a broadcast-joined 80-row
    sliver — re-rank cost independent of corpus size."""
    from ..operators import similarity as sim_mod
    from ..functions.numeric import e_int

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    out = sim_mod.pq_rerank_topk(
        emb, qvec, k=_PQ_K, rerank_mult=_PQR_MULT, m=_PQ_M, n_codes=_PQR_CODES
    )
    return out.select("vec_id", e_int(F.col("score"), 6).alias("score_e6"))


# ---------------------------------------------------------------------------
# Histogram quantile sketch — mergeable approximate quantiles (round 4)
# ---------------------------------------------------------------------------
_HQ_LO, _HQ_HI, _HQ_BINS = 900.0, 105000.0, 64
_HQ_W = (_HQ_HI - _HQ_LO) / _HQ_BINS  # 1626.5625 — exactly representable


@query(
    "sketch_hist_quantiles",
    f"""
    WITH binned AS (
        SELECT LEAST({_HQ_BINS - 1}, GREATEST(0,
                 CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - {_HQ_LO}) / {_HQ_W}) AS INT)))
               AS bin
        FROM lineitem),
    counts AS (SELECT bin, COUNT(*) AS cnt FROM binned GROUP BY bin),
    cum AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) - cnt AS cum_before FROM counts),
    n AS (SELECT COUNT(*) AS n FROM lineitem),
    qs(q) AS (VALUES (0.25), (0.5), (0.75), (0.95), (0.99)),
    tgt AS (SELECT CAST(q AS DOUBLE) AS q,
                   CAST(q AS DOUBLE) * CAST(n - 1 AS DOUBLE) AS r
            FROM qs CROSS JOIN n),
    hit AS (SELECT t.q, t.r, c.bin, c.cnt, c.cum_before
            FROM tgt t JOIN cum c
              ON t.r >= CAST(c.cum_before AS DOUBLE)
             AND t.r < CAST(c.cum_before + c.cnt AS DOUBLE))
    SELECT CAST(ROUND(q * 10000) AS BIGINT) AS q_e4,
           CAST(ROUND(({_HQ_LO} + (CAST(bin AS DOUBLE)
                 + (r - CAST(cum_before AS DOUBLE)) / CAST(cnt AS DOUBLE)) * {_HQ_W})
               * 10000) AS BIGINT) AS est_e4
    FROM hit ORDER BY q_e4
    """,
)
def sketch_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram quantile estimates over
    l_extendedprice (64 fixed bins, linear interpolation at continuous
    rank q·(N−1)) — the approximate-quantile layer whose state merges by
    integer addition at any scale, hash-matched because every counter is
    an integer and the estimate arithmetic is written in the same double
    shape on both engines (operators/sketches.histogram_quantiles)."""
    from ..operators.sketches import histogram_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    return histogram_quantiles(
        li, "l_extendedprice", _HQ_LO, _HQ_HI, _HQ_BINS
    ).orderBy("q_e4")
