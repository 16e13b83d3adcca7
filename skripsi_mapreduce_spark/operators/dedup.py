r"""Deduplication operators for large-scale training-data pipelines.

Five family members, all engine-portable (every hash primitive is md5, so
the DuckDB oracle can reproduce results bit-for-bit — no engine-specific
hash functions):

- exact:       hash-groupBy on content digest (D1).
- minhash+LSH: shingle -> k md5-min signatures -> band-bucket join ->
               candidate pairs -> exact-Jaccard verify (D2). The LSH
               band join is the scale path: candidates form only inside
               a band bucket, never all-pairs.
- simhash:     64-bit weighted-bit signature from token md5s; near-dups =
               small Hamming distance.
- ngram-jaccard: exact all-pairs Jaccard via shared-shingle equi-join
               (the verification primitive; only ever run on LSH
               candidates at scale).
- embedding cosine: see similarity.py (embedding_near_dups).

Everything is built-in DataFrame ops (md5, explode, groupBy, joins) —
no Python UDFs — so the whole family stays inside whole-stage codegen.
Expressions whose width grows with the hash count, the bitmap word count
or the band count are built from ONE SQL string each (``F.expr``), not
from per-term Column calls: in PySpark 4 every Column method call costs
about five py4j round trips (call-site capture), which made plan
building, not execution, the fixed cost of a small call.

The MinHash and n-gram kernels (minhash_near_dups, minhash_dup_edges,
minhash_near_dups_against, ngram_near_dups) are built from one copy of
each step:

- fingerprint cascade (:func:`_fingerprint_cascade`): identical shingle
  sets collapse to one representative; LSH and verify run on those.
  minhash_near_dups_against under the dictionary cap skips it: there
  the fused table's bitmap is an exact set fingerprint, so identical
  corpus contents collapse on it directly;
- signatures: the seeded md5 family (:func:`_seeded_hashes`) and the
  band-hash aggregate over its per-hash MINs (:func:`_minhash_bands`),
  hashed per shingle row in :func:`_band_hash_wide`, or once per
  dictionary word and fused with the bitmaps in :func:`_fused_sig_table`
  when the dense dictionary fits;
- band join (:func:`_band_side` + :func:`_first_agreeing_band`): an
  equi-join on (band, band_hash) that keeps each pair at its first
  agreeing band instead of running a distinct;
- exact verify, two kernels: bitmaps under the dictionary cap
  (:func:`_size_bound`, then :func:`_bitmap_jaccard`: popcount overlap
  behind a pushdown fence, o > 0, jaccard) and the candidate-restricted
  shared-shingle join past it (:func:`_shared_shingle_jaccard`, self or
  batch x corpus).

Scale notes: shuffle keys are digests or (band, bucket-hash) — fixed-width,
never the document text. Shingle explosion multiplies rows by ~|doc|; at
100 TB the band-bucket groupBy is the big shuffle and it is uniformly
hash-distributed by construction. Skewed buckets (boilerplate shingles)
are handled by AQE skew-join; a cheap guard is dropping buckets with
> ~10k members (boilerplate), standard practice in web-scale dedup.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import TOKEN_PATTERN, tokenize_col
from ..io import local_df, spread_scan

# Jaccard verification switches to the bitmap kernel when the distinct
# shingle vocabulary fits in this many bits (64 int64 words = 4096 bits);
# past that, the shared-shingle join is the scale path.
BITMAP_MAX_VOCAB = 4096


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_hash, keep_id, n_copies) for every duplicated content group."""
    # cast BEFORE min: with string ids ('9' vs '10') a lexicographic MIN
    # would keep the wrong representative
    return (
        df.groupBy(F.md5(text_col).alias("text_hash"))
        .agg(
            F.min(F.col(id_col).cast("bigint")).alias("keep_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Keep one row per duplicate group (first by all-column comparison is
    nondeterministic in a distributed engine, so: lowest doc_id wins)."""
    if cols is None:
        cols = [c for c in df.columns if c != "doc_id"]
    w = Window.partitionBy(*cols).orderBy("doc_id")
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 1,
) -> DataFrame:
    """Distinct word-``size``-gram shingle set per document: (doc_id, shingle)."""
    # a small single-file scan is one partition; spread the regex work
    # before tokenizing. Identity on cluster sessions (io.spread_scan) —
    # an unconditional repartition would shuffle the corpus text at scale.
    toks = spread_scan(df).select(
        F.col(id_col).alias("doc_id"),
        tokenize_col(text_col).alias("toks"),
    )
    if size <= 1:
        sh = toks.select("doc_id", F.explode("toks").alias("shingle"))
    else:
        # zip consecutive windows: transform over index range. Documents
        # with fewer than `size` tokens yield NO shingles — the guard
        # matters: sequence(0, -1) would count DOWN ([0,-1]) and the -1
        # index would crash slice().
        windows = F.when(
            F.size("toks") >= size,
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - size),
                lambda i: F.array_join(F.slice("toks", i + 1, size), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        sh = toks.select("doc_id", F.explode(windows).alias("shingle"))
    return sh.distinct()


def minhash_signatures(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(doc_id, i, sig): sig_i = MIN over shingles of md5(i || ':' || shingle).

    md5-of-seeded-string is an engine-portable stand-in for a seeded hash
    family; MIN over lexicographic hex has the same min-wise property.
    One explode (x num_hashes) + one partial-aggregated groupBy.
    """
    return (
        sh.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("i"),
            "shingle",
        )
        .select(
            "doc_id",
            "i",
            F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("shingle"))).alias("h"),
        )
        .groupBy("doc_id", "i")
        .agg(F.min("h").alias("sig"))
    )


def lsh_bands(sigs: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """(doc_id, band, band_hash): hash of the ordered signature slice."""
    banded = sigs.withColumn("band", F.expr(f"i div {rows_per_band}"))
    return banded.groupBy("doc_id", "band").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "sig"))), lambda s: s["sig"]
                ),
                ",",
            )
        ).alias("band_hash")
    )


def _seeded_hashes(num_hashes: int) -> list[str]:
    """SQL for the MinHash family as columns ``_h0..``: ``_h<i>`` =
    md5('<i>:' || shingle), the same hash :func:`minhash_signatures`
    explodes per row."""
    return [f"md5(concat('{i}:', shingle)) AS _h{i}" for i in range(num_hashes)]


def _minhash_bands(num_hashes: int, rows_per_band: int) -> F.Column:
    """The ordered band-hash array as ONE aggregate expression over the
    seeded-hash columns (:func:`_seeded_hashes`): band b = md5 over the
    comma-joined per-hash MINs of its slice. One groupBy(doc_id) takes the
    MINs map-side (partial agg), so the shuffle carries |docs| rows of 16
    strings instead of 16×|shingles| exploded rows (the same one-wide-agg
    trick that made SimHash signatures cheap)."""
    # ceil: a trailing partial band hashes just its remainder signatures,
    # matching lsh_bands' `i div rows_per_band` grouping exactly
    n_bands = -(-num_hashes // rows_per_band)
    bands = ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(
            f"min(_h{i})"
            for i in range(b * rows_per_band, min((b + 1) * rows_per_band, num_hashes))
        )
        + "))"
        for b in range(n_bands)
    )
    return F.expr(f"array({bands})")


def _band_hash_wide(sh: DataFrame, num_hashes: int = 16, rows_per_band: int = 4) -> DataFrame:
    """(doc_id, bands: array<string>) — per-document ordered band hashes in
    ONE wide aggregation (:func:`_minhash_bands`), every seeded hash
    evaluated per shingle row."""
    return (
        sh.selectExpr("doc_id", *_seeded_hashes(num_hashes))
        .groupBy("doc_id")
        .agg(_minhash_bands(num_hashes, rows_per_band).alias("bands"))
    )


def lsh_band_hashes(sh: DataFrame, num_hashes: int = 16, rows_per_band: int = 4) -> DataFrame:
    """(doc_id, band, band_hash) — long form of :func:`_band_hash_wide`,
    result-identical to ``lsh_bands(minhash_signatures(sh))``."""
    wide = _band_hash_wide(sh, num_hashes, rows_per_band)
    return wide.select("doc_id", F.posexplode("bands").alias("band", "band_hash")).select(
        "doc_id", F.col("band").cast("bigint").alias("band"), "band_hash"
    )


def _lsh_verified_pairs(
    sh: DataFrame,
    num_hashes: int,
    rows_per_band: int,
    threshold: float,
    bitmap_max_vocab: int = BITMAP_MAX_VOCAB,
    verify_max_tokens: int = 0,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs that share >= 1 LSH band bucket AND
    have exact Jaccard >= threshold — the verified-candidate step, with a
    COST-BASED physical choice:

    - **bucket join** (the general/scale path): self-join on
      (band, band_hash) with a canonical-witness filter (a pair is kept
      only at its first agreeing band — no distinct shuffle), then the
      exact kernel on candidates. Work ∝ Σ|bucket|² — tiny on long-tail
      corpora, the whole point of LSH.
    - **fused all-pairs** (small duplicate-heavy sets): when the bitmap
      kernel applies and n(n-1)/2 is within 4× of the bucket join's own
      pair volume (Σ c·(c-1)/2, estimated from bucket counts — one cheap
      aggregate), the bucket join buys little: its shuffle + candidate
      joins cost more per pair than a broadcast-nested-loop row.
      Then ONE pass over bitmap×band rows computes popcount-Jaccard and
      the band-agreement residual (zip_with equality over the two 4-hash
      arrays) together — no candidate materialization at all. Chosen on
      measured sf0.1 documents (3.9k reps, mega-buckets: 3.2M candidate
      pairs vs 7.5M all pairs), where it halves the stage.

    Both branches return identical rows (band agreement and exact
    Jaccard are computed, not approximated, in each).

    Physical fusion (optimization round 11): when the dense dictionary
    fits, band hashes AND bitmaps AND set sizes come out of ONE
    groupBy(doc_id) aggregation (:func:`_fused_sig_table`) instead of
    two separate aggregations joined back on doc_id — one exchange
    where there were three plus a join, and the bucket arm's verify
    reuses the same table instead of re-probing the dictionary
    (previously a second dictionary job inside jaccard_pairs). Rows
    are bit-identical: the fused aggregation takes the same MINs and
    bitmap words the two tables held, with each seeded hash evaluated
    once per dictionary word instead of once per shingle row."""
    # bitmap_max_vocab=0 skips the dense-dictionary probe ENTIRELY (it
    # costs a distinct counting job even when it answers None) —
    # round-9 ADVICE: large-vocab corpora that route to LSH are exactly
    # the ones where the probe is doomed
    # NOT spread: re-widening the checkpointed shingle table here (tried
    # in optimization round 12) added a round-robin exchange to every
    # consumer plan — +15 AQE jobs and +1.3s wall on dedup_group_keep at
    # sf0.1 — for ~0.5s of md5 parallelism; and dropping this fused
    # checkpoint (also tried) re-ran the wide aggregation under each of
    # its three consumers: 39 → 54 jobs. Both reverted.
    d_v = _bitmap_dictionary(sh, bitmap_max_vocab) if bitmap_max_vocab > 0 else None
    if d_v is not None:
        d, vocab = d_v
        n_words = (vocab + 63) // 64
        fused = _fused_sig_table(sh, d, n_words, num_hashes, rows_per_band)
        fused = fused.localCheckpoint(eager=False)
        n_bands = -(-num_hashes // rows_per_band)
        # ONE stats job for the cost model: bucket-pair volume and doc
        # count together (each doc contributes exactly n_bands band rows,
        # so n_docs falls out of the same aggregate — the earlier separate
        # wide.count() charged an extra job on every run)
        stats = (
            fused.select(F.explode("bands").alias("h"))
            .groupBy("h")
            .agg(F.count("*").alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("p"),
                F.sum("c").alias("rows"),
            )
            .head()
        )
        bucket_pairs = stats["p"] or 0
        n_docs = (stats["rows"] or 0) / n_bands
        if n_docs * (n_docs - 1) / 2 <= 4 * bucket_pairs:
            a = fused.select(
                F.col("doc_id").alias("id_a"),
                F.col("bm").alias("ba"),
                F.col("n").alias("na"),
                F.col("bands").alias("bba"),
            )
            b = fused.select(
                F.col("doc_id").alias("id_b"),
                F.col("bm").alias("bb"),
                F.col("n").alias("nb"),
                F.col("bands").alias("bbb"),
            )
            # the size bound prunes in the join condition, before any
            # per-pair work
            npart = sh.sparkSession.sparkContext.defaultParallelism
            pairs = a.repartition(npart).join(
                b, (F.col("id_a") < F.col("id_b")) & _size_bound(threshold)
            )
            # flat unrolled band agreement (no per-pair array allocation —
            # see _bitmap_overlap_flat): an n_bands-term OR, cheap enough
            # to stay BELOW the fence, welcome in the join condition as an
            # early prune
            shares_band = F.expr(" OR ".join(f"bba[{bd}] = bbb[{bd}]" for bd in range(n_bands)))
            return _bitmap_jaccard(pairs.filter(shares_band), n_words).filter(
                F.col("jaccard") >= threshold
            )
        wide = fused  # (doc_id, bands, ...) — extra cols pruned below
    else:
        wide = _band_hash_wide(sh, num_hashes, rows_per_band).localCheckpoint(
            eager=False
        )
    # scale path: equi-join on the exploded (band, band_hash) — with the
    # full band array carried on both sides, the first-agreeing-band
    # witness replaces the distinct shuffle over the candidate set
    cands = (
        _band_side(wide, "a")
        .join(_band_side(wide, "b"), ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_first_agreeing_band())
        .select("id_a", "id_b")
    )
    if d_v is not None:
        # the fused table already holds every rep's bitmap + set size —
        # verify directly instead of re-probing the dictionary (the old
        # jaccard_pairs call rebuilt it: one more collect job + agg)
        return _jaccard_pairs_bitmap(
            fused.select("doc_id", "bm", "n"), n_words, cands, min_jaccard=threshold
        ).filter(F.col("jaccard") >= threshold)
    # dictionary over cap (or probe skipped): pass 0 so jaccard_pairs
    # does not repeat the doomed probe — row-identical either way
    return jaccard_pairs(
        sh,
        cands,
        0,
        min_jaccard=threshold,
        verify_max_tokens=verify_max_tokens,
    ).filter(F.col("jaccard") >= threshold)


def minhash_candidates(bands: DataFrame) -> DataFrame:
    """Candidate pairs: documents sharing any (band, band_hash) bucket.

    Self-join on the bucket key — each bucket is tiny, so the join output
    is Σ |bucket|² not |docs|²; this is THE reason LSH scales where
    all-pairs doesn't."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def _prefix_table(sh: DataFrame, threshold: float) -> tuple[DataFrame, DataFrame]:
    """(prefix, freq): each doc's (1-t)|A|+1 rarest shingles under the
    one consistent global-df total order (df asc, shingle asc) — the
    table :func:`prefix_candidates` self-joins and
    :func:`jaccard_generator_profile` sizes WITHOUT joining. The per-doc
    set size rides the SAME window shuffle as the ranking (an unbounded
    count over the doc partition) instead of a separate groupBy + join;
    rows per doc are bounded by the vocabulary, so no skew."""
    freq = sh.groupBy("shingle").agg(F.count("*").alias("_freq"))
    w = Window.partitionBy("doc_id").orderBy("_freq", "shingle")
    wn = Window.partitionBy("doc_id")
    prefix = (
        sh.join(freq, "shingle")
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wn))
        .filter(F.col("_rk") <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1)
        .select("doc_id", "shingle")
    )
    return prefix, freq


def prefix_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact prefix-filtered candidate pairs for Jaccard >= threshold
    (Bayardo et al. all-pairs / SSJoin): order each set's shingles by
    global frequency (rarest first, shingle as tie-break — one consistent
    total order), keep only the first |A| - ceil(t*|A|) + 1 per set; any
    pair with J >= t MUST collide inside both prefixes, so joining
    prefixes instead of full sets is lossless while excluding the hot
    boilerplate shingles that dominate candidate generation.

    When it pays: high thresholds (prefix length (1-t)|A|+1 shrinks fast)
    over corpora with a long-tail shingle distribution (real text) —
    MEASURED on the zipf corpus (tools/gen_scaledata.py --zipf, 50k-word
    rank^-1.1 vocabulary): 6.4s vs the LSH cascade's 13.3s at t=0.9 over
    25k docs, identical verified pairs, AND recall 1.0 by construction
    where LSH recall is probabilistic (SCALING.md round-6 table;
    tools/prefix_vs_lsh.py reproduces it). On a tiny-vocabulary corpus
    every shingle is hot and the extra freq-join/window costs more than
    it prunes — measured on the sf0.1 synthetic documents it LOST 2-4x —
    so the built-in dedup paths default to the fingerprint cascade + LSH
    and the choice is :func:`jaccard_generator_profile`, one groupBy
    away (:func:`jaccard_near_dups_auto` automates it)."""
    prefix, _ = _prefix_table(sh, threshold)
    return _prefix_self_join(prefix)


def _prefix_self_join(prefix: DataFrame) -> DataFrame:
    """The candidate self-join over an already-built prefix table —
    shared by :func:`prefix_candidates` and the auto-router's prefix arm
    (which reuses the checkpointed table the profile was sized from)."""
    a = prefix.alias("pa")
    b = prefix.alias("pb")
    return (
        a.join(
            b,
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(F.col("pa.doc_id").alias("id_a"), F.col("pb.doc_id").alias("id_b"))
        .distinct()
    )


def _shingle_bitmaps(sh: DataFrame, max_vocab: int) -> tuple[DataFrame, int] | None:
    """((doc_id, bm: array<bigint>, n), n_words) — each document's distinct
    shingle set as a fixed-width bitmap over a dense dictionary, or None
    when the vocabulary exceeds ``max_vocab`` bits (or is empty).
    ``n_words`` (the bitmap's 64-bit word count) is returned so per-pair
    kernels can unroll the overlap into a flat ``n_words``-term popcount
    sum — measured 6.8x faster than the zip_with/aggregate HOF form, which
    allocates an intermediate array per candidate pair.

    Exact by construction: the dictionary assigns one bit per DISTINCT
    shingle (0-based, shingle sort order), so |A ∩ B| =
    popcount(bm_a AND bm_b) with no hash-collision caveat.

    The dictionary is built with ONE cap-bounded driver collect
    (``limit(max_vocab + 1)`` — ≤ 4097 short strings under the default
    cap, the same bounded-collect contract as kmeans'
    ``_CENT_COLLECT_MAX``): the previous two-phase distributed rank
    (etl.assign_sequential_ids) cost a range-sample job, a checkpoint
    job and a per-partition-counts collect per call — 3 extra
    driver-blocking jobs to rank a table the cap already proves tiny.
    Over-cap vocabularies exit on the same one job (the limit row count
    answers the probe). Bit assignment is unchanged (rank-in-sort-order
    == sorted-enumerate), so bitmaps — and every downstream jaccard —
    are bit-identical."""
    d_v = _bitmap_dictionary(sh, max_vocab)
    if d_v is None:
        return None
    d, vocab = d_v
    n_words = (vocab + 63) // 64
    ent = sh.join(F.broadcast(d), "shingle")
    df = ent.groupBy("doc_id").agg(_word_bitmap(n_words).alias("bm"), F.count("*").alias("n"))
    return df, n_words


def _bitmap_dictionary(
    sh: DataFrame, max_vocab: int
) -> tuple[DataFrame, int] | None:
    """((shingle, sid) dense dictionary, vocab) or None when the distinct
    vocabulary exceeds ``max_vocab`` (or is empty). ONE cap-bounded
    driver collect — see :func:`_shingle_bitmaps`."""
    rows = sh.select("shingle").distinct().limit(max_vocab + 1).collect()
    vocab = len(rows)
    if vocab == 0 or vocab > max_vocab:
        return None
    d = local_df(
        sh.sparkSession,
        [(s, i) for i, s in enumerate(sorted(r["shingle"] for r in rows))],
        "shingle string, sid int",
    )
    return d, vocab


def _word_bitmap(n_words: int) -> F.Column:
    """The flat bitmap aggregate as ONE expression: word w = bit_or of
    ``shiftleft(1, sid % 64)`` over this doc's sids with sid div 64 = w,
    0 when the doc touches no bit in the word. One groupBy(doc_id)
    replaces the previous groupBy(doc_id, w) + groupBy(doc_id)
    two-exchange chain."""
    words = ", ".join(
        f"coalesce(bit_or(CASE WHEN sid div 64 = {w} "
        "THEN shiftleft(1L, CAST(sid % 64 AS INT)) END), 0L)"
        for w in range(n_words)
    )
    return F.expr(f"array({words})")


def _fused_sig_table(
    sh: DataFrame, d: DataFrame, n_words: int, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, bands: array<string>, bm: array<bigint>, n) in ONE
    groupBy(doc_id) over the dictionary-joined shingle rows — the row
    union of :func:`_band_hash_wide` and :func:`_shingle_bitmaps`
    (bit-identical columns) without the second aggregation exchange and
    the doc_id join the two separate tables cost. ``n`` = count(*) equals
    the popcount total because the shingle rows are distinct per doc and
    the dictionary join is 1:1.

    The seeded hashes are evaluated on the DICTIONARY (≤ the cap's 4096
    rows, before its broadcast), not per (document, shingle) row: each
    word is hashed once however many documents hold it, the way the
    reference computes each word's IDF once and joins it to every
    document. The aggregation takes its MINs over the joined columns."""
    hashed = d.selectExpr("shingle", "sid", *_seeded_hashes(num_hashes))
    return (
        sh.join(F.broadcast(hashed), "shingle")
        .groupBy("doc_id")
        .agg(
            _minhash_bands(num_hashes, rows_per_band).alias("bands"),
            _word_bitmap(n_words).alias("bm"),
            F.count("*").alias("n"),
        )
    )


def _band_side(wide: DataFrame, side: str, with_bitmap: bool = False) -> DataFrame:
    """One side (``side`` = "a" or "b") of the (band, band_hash) equi-join
    over a band table: one row per band with ``id_<side>`` and the full
    ``bands_<side>`` array (for :func:`_first_agreeing_band`), plus the
    bitmap ``b<side>`` and set size ``n<side>`` when ``with_bitmap``, for
    a verify inline with the join."""
    carry = [F.col("bm").alias(f"b{side}"), F.col("n").alias(f"n{side}")] if with_bitmap else []
    return wide.select(
        F.col("doc_id").alias(f"id_{side}"),
        F.col("bands").alias(f"bands_{side}"),
        *carry,
        F.posexplode("bands").alias("band", "band_hash"),
    )


def _first_agreeing_band() -> F.Column:
    """Canonical-witness filter for a band join: a pair agreeing on several
    bands is kept only at its FIRST agreeing band, so no distinct shuffle
    ever runs over the candidate multiset — at sf1.0 the distinct over 73M
    banded candidates measured 126s of the entry's 114s total while the
    bitmap verification itself took 3.3s."""
    first = F.array_position(F.zip_with("bands_a", "bands_b", lambda x, y: x == y), True)
    return first == F.col("band") + 1  # array_position is 1-indexed


def _bitmap_overlap_flat(n_words: int) -> F.Column:
    """|A ∩ B| as a FLAT sum of ``bit_count(ba[w] & bb[w])`` terms — no
    per-pair array allocation, whole-stage-codegen friendly. The HOF form
    (zip_with + aggregate) builds an n_words array object per candidate
    pair; on the quadratic kernels that allocation dominated the stage
    (measured 4.1s -> 0.6s on 7.5M pairs at sf0.1)."""
    terms = " + ".join(f"bit_count(ba[{w}] & bb[{w}])" for w in range(n_words))
    return F.expr(f"CAST({terms} AS BIGINT)")


_FENCE_SEQ = itertools.count()


def _overlap_fence(df: DataFrame, n_words: int) -> DataFrame:
    """Pushdown fence between the per-pair overlap projection and the
    filters that consume it. Without it, Catalyst pushes ``o > 0`` and the
    jaccard threshold THROUGH the projection into the pair-join's
    condition, inlining the n_words-term popcount sum once per consuming
    filter — the overlap then gets evaluated 3x per RAW pair inside the
    non-codegen join node instead of once per surviving pair in a codegen
    Project above it (measured 189s vs 1.0s on the sf0.1 ngram kernel).
    ``observe`` wraps the plan in CollectMetrics, which predicate pushdown
    does not cross; its count metric costs one accumulator per task.

    Cost-gated: for tiny bitmaps (n_words <= 2) the tripled evaluation is
    2-6 bit_counts per pair — cheaper than forcing every size/band-passing
    pair through the fence's extra Project/Filter boundary (measured
    +1.4s on dedup_minhash, whose corpus fits in one word), so the plan is
    left alone and Catalyst's pushdown wins."""
    if n_words <= 2:
        return df
    return df.observe(f"_pair_fence_{next(_FENCE_SEQ)}", F.count(F.lit(1)).alias("pairs"))


def _size_bound(threshold: float) -> F.Column:
    """LOSSLESS Jaccard size bound over the pair's set sizes ``na``/``nb``:
    J(A,B) = o/(na+nb-o) <= min(na,nb)/max(na,nb), so a pair whose sizes
    differ by more than 1/t is rejected with two long comparisons before
    any per-pair bitmap work runs."""
    return F.least(F.col("na"), F.col("nb")) >= F.lit(threshold) * F.greatest(
        F.col("na"), F.col("nb")
    )


def _bitmap_jaccard(pairs: DataFrame, n_words: int) -> DataFrame:
    """(id_a, id_b, jaccard) from pairs carrying both bitmaps (``ba``,
    ``bb``) and set sizes (``na``, ``nb``): the flat popcount overlap
    behind :func:`_overlap_fence`, zero-overlap pairs dropped (every
    verify backend drops them), then o / (na + nb - o)."""
    scored = pairs.select(
        "id_a", "id_b", "na", "nb", _bitmap_overlap_flat(n_words).alias("o")
    )
    return (
        _overlap_fence(scored, n_words)
        .filter(F.col("o") > 0)
        .select(
            "id_a",
            "id_b",
            (F.col("o") / (F.col("na") + F.col("nb") - F.col("o"))).alias("jaccard"),
        )
    )


def _jaccard_pairs_bitmap(
    bm: DataFrame,
    n_words: int,
    pairs: DataFrame | None,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Bitmap kernel: overlap = Σ popcount(AND) over the word arrays,
    unrolled flat (:func:`_bitmap_overlap_flat`).

    All-pairs form streams one side through a broadcast nested-loop join
    (no 73M-row shingle-join intermediate); candidate form is two hash
    joins against the small bitmap table + a per-pair popcount — no
    shuffle wider than the candidate list itself.

    ``min_jaccard`` pushes the lossless :func:`_size_bound` below the
    popcount — on the all-pairs form that is a join-condition prune,
    cutting the quadratic kernel to the size-compatible band."""
    a = bm.select(F.col("doc_id").alias("id_a"), F.col("bm").alias("ba"), F.col("n").alias("na"))
    b = bm.select(F.col("doc_id").alias("id_b"), F.col("bm").alias("bb"), F.col("n").alias("nb"))
    size_ok = (
        _size_bound(min_jaccard)
        if min_jaccard is not None and min_jaccard > 0
        else F.lit(True)
    )
    if pairs is None:
        npart = bm.sparkSession.sparkContext.defaultParallelism
        joined = a.repartition(npart).join(b, (F.col("id_a") < F.col("id_b")) & size_ok)
    else:
        joined = pairs.join(a, "id_a").join(b, "id_b").filter(size_ok)
    return _bitmap_jaccard(joined, n_words)


def _jaccard_pairs_arrays(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Set-ARRAY verify kernel: each doc's distinct shingle set becomes
    ONE sorted array row; candidate pairs join the two compact arrays and
    overlap = size(array_intersect(sa, sb)) per pair, in-stage.

    Exact for ANY vocabulary (unlike the bitmap kernel's dense-dictionary
    bit cap) — the gate is per-doc SET SIZE, not vocab: memory per joined
    row is O(|A|+|B|), so callers opt in only when docs are boundedly
    small (verify_max_tokens). Why it pays: the shared-shingle equi-join
    verify shuffles |candidates| x avg|A| exploded (id, shingle) string
    rows, while this joins |candidates| rows against a |docs|-row array
    table (broadcast when small, sort-merge on id otherwise) and the
    arrays die inside the join stage — measured 3.7s -> 0.6s on the
    trigram prefix entry (125k candidates x ~52 shingles, sf0.1)."""
    sets = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("shingle")).alias("s"),
    ).select("doc_id", "s", F.size("s").alias("n"))
    sa = sets.select(
        F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"), F.col("n").alias("na")
    )
    sb = sets.select(
        F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"), F.col("n").alias("nb")
    )
    o = F.size(F.array_intersect("s_a", "s_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            o.alias("_o"),
            (o / (F.col("na") + F.col("nb") - o)).alias("jaccard"),
        )
        # zero-overlap candidates are dropped, matching BOTH other
        # backends (the bitmap kernel's o > 0 fence and the exploded
        # equi-join, where a disjoint pair never produces a row) — the
        # backend choice must never change the row set
        .filter(F.col("_o") > 0)
        .drop("_o")
    )


def jaccard_pairs(
    sh: DataFrame,
    pairs: DataFrame | None = None,
    bitmap_max_vocab: int = BITMAP_MAX_VOCAB,
    min_jaccard: float | None = None,
    verify_max_tokens: int = 0,
) -> DataFrame:
    """Exact Jaccard for candidate pairs (or all pairs sharing >=1 shingle
    when ``pairs`` is None): (id_a, id_b, jaccard).

    Two exact backends, picked by vocabulary size:

    - bitmap kernel (distinct shingles <= ``bitmap_max_vocab``): each
      set becomes a <=512-byte bitmap; overlap is popcount(AND) per pair.
      Small-vocab corpora (boilerplate-heavy web text, synthetic data)
      otherwise explode the shingle join — Σ freq² intermediate rows.
    - shared-shingle equi-join (the general/scale path): overlap =
      |A ∩ B| via join on shingle; |A|,|B| from per-doc counts. Shuffle
      keys are shingles/ids, never text; at 100 TB candidates come from
      LSH and this join stays linear in |candidates|.

    Both produce jaccard = o / (|A|+|B|-o) with identical int->double
    division, so the result is backend-invariant bit-for-bit.
    ``min_jaccard`` (a promise that callers filter at >= that value)
    enables the lossless size-bound prune inside the bitmap kernel —
    rows below it may be dropped early, never rows at/above it.

    ``verify_max_tokens`` > 0 opts candidate verification into the
    set-ARRAY kernel (:func:`_jaccard_pairs_arrays`) when the caller
    KNOWS per-doc distinct-shingle counts stay below it — exact for any
    vocabulary, joined-row memory O(|A|+|B|); large-vocab small-doc
    corpora (n-gram shingles) otherwise fall through to the exploded
    equi-join, whose shuffle carries |candidates| x avg-set-size string
    rows. The bound is a memory/perf contract, never a correctness one."""
    if bitmap_max_vocab > 0:
        bm_nw = _shingle_bitmaps(sh, bitmap_max_vocab)
        if bm_nw is not None:
            return _jaccard_pairs_bitmap(bm_nw[0], bm_nw[1], pairs, min_jaccard)
    if verify_max_tokens > 0 and pairs is not None:
        return _jaccard_pairs_arrays(sh, pairs)
    return _shared_shingle_jaccard(sh, sh, pairs)


def _shared_shingle_jaccard(
    sh_a: DataFrame, sh_b: DataFrame, pairs: DataFrame | None
) -> DataFrame:
    """(id_a, id_b, jaccard) by the shared-shingle equi-join: overlap
    o = |A ∩ B| from joining shingle rows, set sizes from per-doc counts.
    ``sh_a`` holds the ``id_a`` documents' shingles, ``sh_b`` the ``id_b``
    ones' (the same table for a self-join). With candidate ``pairs`` the
    join is restricted BEFORE it meets the second side: each candidate
    joins only its own two shingle sets, so the work stays linear in
    |candidates|, not quadratic in docs-per-hot-shingle (the LSH point at
    scale). ``pairs=None`` is the self form: every pair of ``sh_a``
    sharing >= 1 shingle, id_a < id_b."""
    if pairs is not None:
        sa = pairs.join(sh_a.withColumnRenamed("doc_id", "id_a"), "id_a").select(
            "id_a", "id_b", "shingle"
        )
        overlap = (
            sa.join(
                sh_b.select(F.col("doc_id").alias("id_b"), "shingle"),
                ["id_b", "shingle"],
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("o"))
        )
    else:
        a = sh_a.alias("sa")
        b = sh_b.alias("sb")
        overlap = (
            a.join(
                b,
                (F.col("sa.shingle") == F.col("sb.shingle"))
                & (F.col("sa.doc_id") < F.col("sb.doc_id")),
            )
            .groupBy(
                F.col("sa.doc_id").alias("id_a"), F.col("sb.doc_id").alias("id_b")
            )
            .agg(F.count("*").alias("o"))
        )

    def sizes(sh: DataFrame, side: str) -> DataFrame:
        return sh.groupBy("doc_id").agg(F.count("*").alias("n")).select(
            F.col("doc_id").alias(f"id_{side}"), F.col("n").alias(f"n{side}")
        )

    return (
        overlap.join(sizes(sh_a, "a"), "id_a")
        .join(sizes(sh_b, "b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("o") / (F.col("na") + F.col("nb") - F.col("o"))).alias("jaccard"),
        )
    )


def _fingerprint_groups(sh: DataFrame) -> DataFrame:
    """(doc_id, fp, rep): fp = md5 of the sorted shingle SET; rep = the
    group's min doc_id. Jaccard depends only on the set, so every doc in a
    group is interchangeable for similarity purposes."""
    # \x01 separator: cannot occur inside a \w+ shingle, so distinct sets
    # can never concatenate to the same string (an empty separator would
    # collide {'abc','de'} with {'ab','cde'})
    fp = sh.groupBy("doc_id").agg(
        F.md5(F.array_join(F.array_sort(F.collect_set("shingle")), "\x01")).alias("fp")
    )
    reps = fp.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    return fp.join(reps, "fp")


def _fingerprint_cascade(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(groups, rep_sh): the fingerprint groups of the shingle table
    (:func:`_fingerprint_groups`) and the shingle rows of each group's
    representative only — the input every cascade runs its LSH and
    verification on. Both lazily pinned: each feeds several consumers."""
    groups = _fingerprint_groups(sh).localCheckpoint(eager=False)
    # rep_sh's checkpoint earns its conversion: dropping it (tried in
    # optimization round 12) re-ran the sh⋈reps join under both the
    # dictionary probe and the fused aggregation — +1 job and slower.
    rep_sh = sh.join(
        groups.filter(F.col("doc_id") == F.col("rep")).select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)
    return groups, rep_sh


def _cascade_output(
    groups: DataFrame, rep_pairs: DataFrame, threshold: float
) -> DataFrame:
    """Shared tail of the fingerprint cascade: expand verified rep pairs
    to member pairs and union the within-group pairs (jaccard exactly 1.0
    — emitted only when the threshold admits them)."""
    cross = _expand_rep_pairs(rep_pairs, groups)
    if threshold > 1.0:
        return cross
    ga = groups.select("fp", F.col("doc_id").alias("id_a"))
    gb = groups.select("fp", F.col("doc_id").alias("id_b"))
    within = (
        ga.join(gb, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return within.unionByName(cross)


def _expand_rep_pairs(rep_pairs: DataFrame, groups: DataFrame) -> DataFrame:
    """Turn verified representative pairs (rep_a, rep_b, jaccard) into all
    member-level pairs, ordered (least, greatest)."""
    ga = groups.select(F.col("rep").alias("rep_a"), F.col("doc_id").alias("xa"))
    gb = groups.select(F.col("rep").alias("rep_b"), F.col("doc_id").alias("xb"))
    return (
        rep_pairs.join(ga, "rep_a")
        .join(gb, "rep_b")
        .select(
            F.least("xa", "xb").alias("id_a"),
            F.greatest("xa", "xb").alias("id_b"),
            "jaccard",
        )
    )


def minhash_near_dups(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    shingle_size: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    sh: DataFrame | None = None,
    bitmap_max_vocab: int = BITMAP_MAX_VOCAB,
    verify_max_tokens: int = 0,
) -> DataFrame:
    """Full D2 pipeline: shingle -> minhash -> LSH bucket-join -> exact
    verify; returns (id_a, id_b, jaccard) with jaccard >= threshold.
    ``bitmap_max_vocab`` / ``verify_max_tokens`` thread into the exact
    verify exactly as :func:`jaccard_pairs` documents them
    (``bitmap_max_vocab=0`` also skips the verify's dense-dictionary
    probe job — round-9 ADVICE: the knob previously reached only the
    prefix arm, re-enabling the probe on precisely the saturated
    corpora that route here).

    The fingerprint cascade (the 100 TB path) first collapses identical
    shingle SETS into fingerprint groups and runs LSH + verification on
    one REPRESENTATIVE per group only, then expands: within-group pairs are
    jaccard 1.0 by definition; cross-group pairs inherit their
    representatives' jaccard (the set determines it). Result is
    row-identical to the brute pipeline, but the quadratic verify work
    scales with distinct contents, not documents — exactly what saves a
    web-scale corpus where boilerplate duplicates dominate.

    ``sh`` hands in a prebuilt (doc_id, shingle) DISTINCT-set table for
    ``df`` (callers that already shingled — jaccard_near_dups_auto's
    profile checkpoints one before deciding the arm); it must be what
    :func:`shingles` produces for the same (df, shingle_size), and the
    corpus is then never re-tokenized here."""
    # the shingle table feeds fingerprinting, signatures, AND verification
    # — pin it once instead of re-tokenizing the corpus per consumer
    if sh is None:
        sh = shingles(df, id_col, text_col, shingle_size).localCheckpoint(eager=False)
    groups, rep_sh = _fingerprint_cascade(sh)
    rep_pairs = _lsh_verified_pairs(
        rep_sh, num_hashes, rows_per_band, threshold,
        bitmap_max_vocab=bitmap_max_vocab,
        verify_max_tokens=verify_max_tokens,
    ).select(
        F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b"), "jaccard"
    )
    return _cascade_output(groups, rep_pairs, threshold)


def minhash_dup_edges(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    shingle_size: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Connectivity-equivalent near-dup EDGE set (id_a, id_b): the same
    connected components — and the same node set — as
    :func:`minhash_near_dups`' pair list, without the quadratic
    within-group / cross-group expansion.

    Emits (a) one star edge rep->member per non-representative member of
    each fingerprint group (a group's all-pairs clique and its star have
    identical connectivity), and (b) the verified representative-level
    pairs (an expanded cross pair (xa, xb) exists iff its reps' pair
    verified, and xa—rep_a—rep_b—xb is then a path through the stars).
    Edge count is linear in documents + rep pairs, so the downstream
    components step ingests ~N rows where the expanded pair list is
    quadratic in duplicate-cluster size — at sf0.5 the synthetic corpus
    makes that 65M pairs vs ~25k edges for the same 20k-node dup graph.
    This is THE consumer for group-election workflows (dedup_group_keep);
    use minhash_near_dups when the pair list itself (with jaccard) is the
    product."""
    sh = shingles(df, id_col, text_col, shingle_size).localCheckpoint(eager=False)
    groups, rep_sh = _fingerprint_cascade(sh)
    rep_pairs = _lsh_verified_pairs(sh=rep_sh, num_hashes=num_hashes,
                                    rows_per_band=rows_per_band, threshold=threshold)
    stars = groups.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    return stars.unionByName(rep_pairs.select("id_a", "id_b"))


def minhash_near_dups_against(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    shingle_size: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental near-dedup: for each BATCH document with a near-duplicate
    (exact Jaccard >= threshold) in an EXISTING corpus, the best Jaccard
    found — the daily-ingest vetting decision (drop if present), returned
    as (batch_id, max_jaccard). Output is ≤ one row per batch document.

    Scale, in three deliberate choices. (1) The decision output: a
    dup-heavy corpus makes the full (batch x corpus) pair LIST quadratic
    in duplicate-cluster size (measured 21M pairs for a 1k-doc batch at
    sf0.5) — but ingest only needs per-doc verdicts, which are linear in
    the batch. (2) Identical corpus contents collapse to one row before
    the band join: Jaccard depends only on the shingle SET, so the band
    join and verification work scale with distinct corpus contents, not
    documents. (3) The corpus never self-joins: only batch x corpus band
    matches are joined. Each call still re-signs the whole corpus.

    Two arms, chosen by the dense dictionary probe (``BITMAP_MAX_VOCAB``)
    over both sides' shingles, candidate-restricted verification on both:

    - under the cap, ONE fused signature aggregation per side
      (:func:`_fused_sig_table`, straight on the shingle table): the
      corpus rows collapse on their bitmap, which under a 1:1 dictionary
      is an exact set fingerprint, and the batch keeps one row per
      document, since its rows are the output anyway. Each side's bitmap
      and set size ride the band explode and the popcount verify runs
      inline with the band join;
    - past the cap, the fingerprint cascade on BOTH sides
      (:func:`_fingerprint_cascade`): band join rep x rep, the
      witness-filtered candidates through the shared-shingle verify
      (:func:`_shared_shingle_jaccard`, each candidate rep pair joins only
      its own two shingle sets), and batch members inherit their rep's
      verdict through a narrow join."""
    sh_c = shingles(corpus, id_col, text_col, shingle_size).localCheckpoint(eager=False)
    sh_b = shingles(batch, id_col, text_col, shingle_size).localCheckpoint(eager=False)
    # the same vocabulary as the union of both sides' representatives, so
    # sids and bitmaps are those the cascade would build
    d_v = _bitmap_dictionary(sh_b.unionByName(sh_c), BITMAP_MAX_VOCAB)
    bitmap = d_v is not None
    if bitmap:
        d, vocab = d_v
        n_words = (vocab + 63) // 64
        wide_b = _fused_sig_table(sh_b, d, n_words, num_hashes, rows_per_band)
        # bands and n are functions of bm, so grouping on them splits nothing
        wide_c = (
            _fused_sig_table(sh_c, d, n_words, num_hashes, rows_per_band)
            .groupBy("bm", "bands", "n")
            .agg(F.min("doc_id").alias("doc_id"))
        )
    else:
        _, rep_sh_c = _fingerprint_cascade(sh_c)
        g_b, rep_sh_b = _fingerprint_cascade(sh_b)
        wide_b = _band_hash_wide(rep_sh_b, num_hashes, rows_per_band)
        wide_c = _band_hash_wide(rep_sh_c, num_hashes, rows_per_band)
    # The bitmap and set size ride the band explode (optimization round
    # 12): previously the witness-filtered candidates joined back to a
    # union of the two fused tables, giving each side's aggregation TWO
    # differently-pruned consumers — and because column pruning pushes
    # through the aggregate, Catalyst compiled each consumer as its own
    # aggregation over the checkpointed shingle RDD. Carrying (bm, n)
    # through the explode keeps ONE consumer per side, deletes the two
    # verify hash joins, and is bounded at scale: it only happens under
    # the dense-dictionary cap, so bm is ≤ 64 longs per row replicated
    # n_bands (4) ways.
    cand = (
        _band_side(wide_b, "a", bitmap)
        .join(_band_side(wide_c, "b", bitmap), ["band", "band_hash"])
        .filter(_first_agreeing_band())
    )
    if bitmap:
        # NOT spread: an explicit repartition of the candidate list here
        # (tried in optimization round 11) forces full materialization
        # of the witness-filtered pairs and breaks the band-join→verify
        # pipeline fusion — profiled 8x MORE verify CPU (22s vs 2.7s at
        # sf0.1) despite re-widening the stage. The fused single pass
        # wins. The shingle co-occurrence join measured 2.3x slower here
        # (small shared vocab makes co-occurrence near all-pairs), and
        # expanding cand x shingles OOM'd at sf1.0.
        verified = _bitmap_jaccard(cand.filter(_size_bound(threshold)), n_words)
    else:
        verified = _shared_shingle_jaccard(rep_sh_b, rep_sh_c, cand.select("id_a", "id_b"))
    best = (
        verified.filter(F.col("jaccard") >= threshold)
        .groupBy("id_a")
        .agg(F.max("jaccard").alias("max_jaccard"))
    )
    if bitmap:
        return best.select(F.col("id_a").alias("batch_id"), "max_jaccard")
    # _fingerprint_groups always names its id column "doc_id" (shingles()
    # normalized id_col on the way in), so select the internal name here —
    # F.col(id_col) would raise for any caller with a non-default id_col.
    return g_b.join(best, F.col("rep") == F.col("id_a")).select(
        F.col("doc_id").alias("batch_id"), "max_jaccard"
    )


def ngram_near_dups(
    df: DataFrame,
    threshold: float,
    shingle_size: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs >= threshold, with the same
    fingerprint-group cascade as minhash_near_dups (all-pairs verify runs
    on group representatives only)."""
    sh = shingles(df, id_col, text_col, shingle_size).localCheckpoint(eager=False)
    groups, rep_sh = _fingerprint_cascade(sh)
    rep_pairs = (
        jaccard_pairs(rep_sh, min_jaccard=threshold)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b"), "jaccard")
    )
    return _cascade_output(groups, rep_pairs, threshold)


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, sim_hi, sim_lo) — 64-bit SimHash over the token multiset,
    stored as two exact 32-bit lanes (all arithmetic stays in exact BIGINT
    integer division — a double-based 2^b would corrupt low bits past the
    53-bit mantissa).

    Lane of token t = 32 bits of md5(t) (hex chars 1-8 = hi, 9-16 = lo,
    parsed with conv). Signature bit b is 1 iff Σ_tokens (2*bit_b(t) - 1)
    > 0, i.e. iff 2*(#tokens with bit b set) > #tokens — the classic
    Charikar construction. Computed as ONE wide aggregation: 64
    conditional sums + a count per document, all partial-aggregated
    map-side, so the shuffle carries |docs| rows of 65 ints — NOT the
    64x-exploded token table (the naive explode(tokens) x explode(bits)
    shape shuffles |tokens| * 64 rows; at 100 TB that is the difference
    between a broadcastable signature table and a multi-TB shuffle)."""
    # spread_scan (identity on cluster masters): the local single-file
    # scan is 1-4 partitions and the regexp tokenize below would pin as
    # many cores — same reason shingles()/tokens_long() spread first
    toks = spread_scan(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), F.lit(0))
        ).alias("t"),
    )
    # collapse token INSTANCES to (doc, token, tf) first: the weighted bit
    # sum Σ_instances bit == Σ_distinct tf*bit, so the wide-aggregate pass
    # (and the md5 + lane extraction) runs once per DISTINCT (doc, token)
    # — the cheap 1-aggregate pre-pass shrinks it by the corpus's
    # repetition factor (~10x on natural text)
    tf = toks.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    h = F.md5("t")
    lanes = tf.select(
        "doc_id",
        "tf",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("lane_hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("lane_lo"),
    )
    sums, sig_hi, sig_lo = _simhash_agg_exprs()
    g = lanes.groupBy("doc_id").agg(F.sum("tf").alias("nt"), *sums)
    return g.select("doc_id", sig_hi.alias("sim_hi"), sig_lo.alias("sim_lo"))


_SIMHASH_AGG_CACHE: tuple | None = None


def _simhash_agg_exprs() -> tuple:
    """(packed bit-sum aggregates, sig_hi, sig_lo) Column expressions for
    simhash64's wide aggregation, built once per process and reused.

    Two driver-side costs motivate the shape:

    - PACKING: bit b's hi- and lo-lane counters share one BIGINT sum
      (hi count in the upper 32 bits, lo count in the lower), so the
      aggregation carries 33 longs per doc instead of 65 — half the
      partial-agg state and shuffle width. Field sums never interact as
      long as the per-doc token count stays < 2^30 (the lo field tops out
      at nt < 2^32 with no carry into hi, and hi*2^32 + lo < 2^63); a
      billion-token "document" is corrupt input long before that bound.
    - CACHING: constructing ~70 Column expressions costs ~1s of
      driver-side py4j round-trips PER CALL — measured as 75% of the
      whole dedup_simhash entry's wall time at sf0.1. Unresolved Column
      trees are immutable and bind to each new plan at analysis, so one
      cached copy serves every call in the process."""
    global _SIMHASH_AGG_CACHE
    if _SIMHASH_AGG_CACHE is None:
        two32 = 1 << 32
        sums = [
            F.sum(
                F.expr(
                    f"tf * ((lane_hi div {1 << b}) % 2 * {two32}"
                    f" + (lane_lo div {1 << b}) % 2)"
                )
            ).alias(f"pk_{b}")
            for b in range(32)
        ]

        def _sig(field: str) -> F.Column:
            out = F.lit(0).cast("bigint")
            for b in range(32):
                s = F.expr(f"pk_{b} div {two32}" if field == "hi" else f"pk_{b} % {two32}")
                out = out + F.when(
                    2 * s > F.col("nt"), F.lit(1 << b).cast("bigint")
                ).otherwise(F.lit(0).cast("bigint"))
            return out

        _SIMHASH_AGG_CACHE = (sums, _sig("hi"), _sig("lo"))
    return _SIMHASH_AGG_CACHE


def _hamming_slices(n_slices: int) -> list[tuple[str, int, int]]:
    """Partition the 64 signature bits into ``n_slices`` disjoint groups
    as ``(lane, bit_offset, width)`` triples, never crossing the 32-bit
    lane boundary (so extraction is plain nonnegative div/mod — no signed
    64-bit shift hazards in either engine). Pigeonhole only needs the
    groups to be disjoint and cover all 64 bits; contiguity per lane is a
    convenience."""
    if not 2 <= n_slices <= 64:
        raise ValueError(f"n_slices must be in [2, 64], got {n_slices}")
    out: list[tuple[str, int, int]] = []
    n_lo = n_slices // 2
    for lane, cnt in (("lo", n_lo), ("hi", n_slices - n_lo)):
        base, rem = divmod(32, cnt)
        off = 0
        for i in range(cnt):
            width = base + (1 if i < rem else 0)
            out.append((lane, off, width))
            off += width
    return out


_SIMHASH_JOIN_CACHE: dict[int, tuple] = {}


def _simhash_join_exprs(n_slices: int) -> tuple:
    """(slice-value array, canonical-witness predicate) for the blocked
    SimHash self-join, built once per (process, n_slices) — the same
    driver-side py4j construction cost argument as _simhash_agg_exprs.

    The witness replaces a distinct shuffle: a pair agreeing on several
    slices is emitted only from the FIRST agreeing one — the row's own
    slice_idx qualifies iff every earlier slice disagrees (recomputed from
    the carried signatures, pure codegen)."""
    if n_slices not in _SIMHASH_JOIN_CACHE:
        slices = _hamming_slices(n_slices)
        vals = F.array(
            *[
                F.expr(f"(sim_{lane} div {1 << off}) % {1 << width}").cast("long")
                for lane, off, width in slices
            ]
        )

        def _slice(side: str, lane: str, off: int, width: int):
            return F.expr(f"(h{side}_{lane} div {1 << off}) % {1 << width}")

        witness = F.lit(True)
        for i in range(len(slices) - 1, 0, -1):
            earlier_disagree = F.lit(True)
            for lane, off, width in slices[:i]:
                earlier_disagree = earlier_disagree & (
                    _slice("a", lane, off, width) != _slice("b", lane, off, width)
                )
            witness = F.when(F.col("slice_idx") == i, earlier_disagree).otherwise(witness)
        _SIMHASH_JOIN_CACHE[n_slices] = (vals, witness)
    return _SIMHASH_JOIN_CACHE[n_slices]


def simhash_near_dups(
    sim: DataFrame,
    max_hamming: int = 3,
    block: bool = True,
    salt_buckets: int = 1,
    pin_signatures: bool = True,
) -> DataFrame:
    """Pairs with Hamming distance <= max_hamming over the 64-bit signature.

    ``block=True`` (the scale path, and the default): pigeonhole blocking.
    Split the signature into ``max_hamming + 1`` disjoint bit-slices; any
    pair within Hamming r must agree EXACTLY on at least one slice (r
    differing bits cannot touch all r+1 slices), so candidates come from
    an equi-join on (slice_idx, slice_value) — a plain shuffled hash join
    whose output is Σ |bucket|², never |docs|² — and the XOR-popcount
    verify runs on candidates only. Lossless by construction: the verify
    keeps exactly the true pairs, so results are row-identical to the
    all-pairs kernel (pinned by a regression test).

    ``salt_buckets``: the slice-bucket join's skew is in its probe OUTPUT
    (a template-heavy corpus can put thousands of docs in one slice-value
    bucket, so one reduce task alone emits |bucket|² candidates); AQE skew
    handling never fires because the shuffled INPUT partitions are tiny.
    Salting spreads it: the left side keys each row by hash(id) % s, the
    right side replicates each row s times, and the bucket's pair
    generation spreads over s tasks. Replication costs s× a narrow
    5-column shuffle, so it only pays once a straggler bucket dominates a
    stage — measured at sf0.1 (5k docs, max bucket 1.5k) salt=8 is 3x
    SLOWER than salt=1, hence the default 1; at cluster scale set s so
    max_bucket²/s pairs is minutes, not hours, of one core's work.

    ``block=False``: the all-pairs verification kernel (broadcast nested
    loop) — O(n²), audit/regression use only."""
    if max_hamming >= 64:
        # every pair is within distance 64 of a 64-bit signature — no
        # slice partition can prune, so blocking would only add overhead
        block = False
    if not block:
        # non-equi self-join -> broadcast nested loop; parallelize the
        # streamed side explicitly (a small scan is a single partition)
        npart = sim.sparkSession.sparkContext.defaultParallelism
        a = sim.repartition(npart).select(
            F.col("doc_id").alias("id_a"),
            F.col("sim_hi").alias("ha_hi"),
            F.col("sim_lo").alias("ha_lo"),
        )
        b = sim.select(
            F.col("doc_id").alias("id_b"),
            F.col("sim_hi").alias("hb_hi"),
            F.col("sim_lo").alias("hb_lo"),
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        # clamp: >= max_hamming+1 slices keeps the pigeonhole guarantee
        # (extra slices only widen the candidate set, verify filters it);
        # the minimum of 2 covers max_hamming=0 (exact-signature join)
        vals, witness = _simhash_join_exprs(min(max(max_hamming + 1, 2), 64))
        # the self-join consumes the signature table on BOTH sides; an
        # un-pinned `sim` re-runs the whole tokenize+simhash chain per
        # side (profiled: two identical signature map stages at sf0.1).
        # Lazy checkpoint = one signature pass; spread_scan (identity on
        # cluster masters) re-widens the checkpointed table — the
        # signature aggregate coalesces to 1 post-shuffle partition on
        # small-byte corpora, serializing the slice-join + XOR-popcount
        # verify onto one core (profiled 1.4s single-task CPU).
        # ``pin_signatures=False`` for callers that already checkpointed
        # `sim` themselves (the mm_* entries pin their blob-derived
        # signature tables) — a second conversion is pure driver cost.
        if pin_signatures:
            sim = spread_scan(sim.localCheckpoint(eager=False))
        sl = sim.select(
            "doc_id", "sim_hi", "sim_lo", F.posexplode(vals).alias("slice_idx", "slice_val")
        )
        s = max(int(salt_buckets), 1)
        a = sl.select(
            F.col("doc_id").alias("id_a"),
            F.col("sim_hi").alias("ha_hi"),
            F.col("sim_lo").alias("ha_lo"),
            "slice_idx",
            "slice_val",
            F.pmod(F.xxhash64("doc_id"), F.lit(s)).cast("int").alias("salt"),
        )
        b = sl.select(
            F.col("doc_id").alias("id_b"),
            F.col("sim_hi").alias("hb_hi"),
            F.col("sim_lo").alias("hb_lo"),
            "slice_idx",
            "slice_val",
            F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("salt"),
        )
        hamming = F.bit_count(F.col("ha_hi").bitwiseXOR(F.col("hb_hi"))) + F.bit_count(
            F.col("ha_lo").bitwiseXOR(F.col("hb_lo"))
        )
        # filter order matters: the 4-op popcount threshold kills ~99% of
        # candidates (dup-heavy corpora put thousands of docs in one slice
        # bucket), so it runs BEFORE the O(slices²) witness expression —
        # the witness then only deduplicates true pairs across slices
        return (
            a.join(b, ["slice_idx", "slice_val", "salt"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("hamming", hamming.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .filter(witness)
            .select("id_a", "id_b", "hamming")
        )
    hamming = F.bit_count(F.col("ha_hi").bitwiseXOR(F.col("hb_hi"))) + F.bit_count(
        F.col("ha_lo").bitwiseXOR(F.col("hb_lo"))
    )
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dups_against(
    sim_a: DataFrame,
    sim_b: DataFrame,
    max_hamming: int = 3,
    block: bool = True,
) -> DataFrame:
    """CROSS-SIDE pigeonhole Hamming join: pairs (id_a from ``sim_a``,
    id_b from ``sim_b``) within ``max_hamming`` over the 64-bit
    signature — the incremental-ingest twin of
    :func:`simhash_near_dups` (the same relationship
    :func:`minhash_near_dups_against` has to :func:`minhash_near_dups`):
    a BATCH of arriving signatures checks against a static CORPUS
    without the corpus ever joining itself. Both inputs are
    (doc_id, sim_hi, sim_lo) — text SimHash, image dHash, or audio
    fingerprints alike. Blocking, witness dedup, and the popcount
    verify are the self-join's exact machinery minus the id_a < id_b
    cut (the sides are distinct tables; ids must be disjoint across
    them, the caller contract shared with semantic_incremental).
    ``block=False`` is the O(|a|·|b|) audit kernel."""
    if max_hamming >= 64:
        block = False
    a_cols = lambda df, side: df.select(  # noqa: E731
        F.col("doc_id").alias(f"id_{side}"),
        F.col("sim_hi").alias(f"h{side}_hi"),
        F.col("sim_lo").alias(f"h{side}_lo"),
    )
    hamming = F.bit_count(F.col("ha_hi").bitwiseXOR(F.col("hb_hi"))) + F.bit_count(
        F.col("ha_lo").bitwiseXOR(F.col("hb_lo"))
    )
    if not block:
        npart = sim_a.sparkSession.sparkContext.defaultParallelism
        pairs = a_cols(sim_a, "a").repartition(npart).join(a_cols(sim_b, "b"))
        return (
            pairs.withColumn("hamming", hamming.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
    vals, witness = _simhash_join_exprs(min(max(max_hamming + 1, 2), 64))
    sl_a = sim_a.select(
        F.col("doc_id").alias("id_a"),
        F.col("sim_hi").alias("ha_hi"),
        F.col("sim_lo").alias("ha_lo"),
        F.posexplode(vals).alias("slice_idx", "slice_val"),
    )
    sl_b = sim_b.select(
        F.col("doc_id").alias("id_b"),
        F.col("sim_hi").alias("hb_hi"),
        F.col("sim_lo").alias("hb_lo"),
        F.posexplode(vals).alias("slice_idx", "slice_val"),
    )
    return (
        sl_a.join(sl_b, ["slice_idx", "slice_val"])
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .filter(witness)
        .select("id_a", "id_b", "hamming")
    )


def semantic_near_dups(
    emb: DataFrame,
    k: int | str = "auto",
    n_assign_passes: int = 2,
    top_per_cluster: int = 5,
    target_cluster_size: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "ivf",
    n_probe: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic dedup (the operator behind the
    dedup_semantic entry): cluster embeddings with the engine-exact
    fixed-point K-Means, score cosine ONLY within each cluster
    (vectorized pair kernel, bit-identical to the HOF fold), and keep the
    ``top_per_cluster`` most-similar pairs per cluster. Returns
    (cluster, id_a, id_b, cosine_e6).

    ``k="auto"`` derives k = ceil(n / target_cluster_size) from one count
    job — the measured scaling knob (SCALING.md round-4 curve): with k
    FIXED, within-cluster pair work grows ~(n/k)²·k = n²/k (5.6s → 380s
    over 10× data); with k ∝ n, cluster size — and so pair work per unit
    of data — stays constant.

    ``assign`` picks the clustering's assignment kernel:

    - ``"ivf"`` (default, and the scale-safe form): hierarchical
      assignment through an IVF coarse quantizer
      (:func:`~..operators.kmeans.kmeans_fixedpoint_ivf`) — per-doc work
      is sqrt-of-k coarse probes plus the fine centroids in ``n_probe``
      lists, killing the n²/target Lloyd term that the exact path pays
      when k ∝ n (SCALING.md round-5 curve: 4.9/18.8/50.3s over 10×
      data). Engine-exact: the dedup_semantic oracle replays every
      stage.
    - ``"exact"`` (the round-5 behavior): full Lloyd assignment, n·k
      distances per pass. BREAKING CHANGE note: callers that omitted
      ``assign`` before round 6 got this path; clusterings (and thus
      emitted pairs) differ between the two kernels whenever the coarse
      quantizer actually prunes (n_probe < n_list). ``n_assign_passes``
      applies to THIS path only — the ivf kernel is fixed at two
      hierarchical passes (a pass count ≠ 2 under assign="ivf" raises
      rather than silently running a different depth)."""
    import math

    from ..functions.numeric import e_int
    from .similarity import pair_cosine_join

    if k == "auto":
        k = max(2, math.ceil(emb.count() / target_cluster_size))
    assign = semantic_assignments(
        emb, int(k), id_col=id_col, vec_col=vec_col, assign=assign,
        n_probe=n_probe, n_assign_passes=n_assign_passes,
    )
    a = assign.select(F.col("doc_id").alias("id_a"), F.col("cluster"))
    b = assign.select(F.col("doc_id").alias("id_b"), F.col("cluster").alias("_cb"))
    pairs = a.join(
        b, (F.col("cluster") == F.col("_cb")) & (F.col("id_a") < F.col("id_b"))
    ).select("cluster", "id_a", "id_b")
    scored = pair_cosine_join(pairs, emb, id_col=id_col, vec_col=vec_col).select(
        "cluster", "id_a", "id_b", e_int(F.col("cosine"), 6).alias("cosine_e6")
    )
    rn = F.row_number().over(
        Window.partitionBy("cluster").orderBy(F.desc("cosine_e6"), "id_a", "id_b")
    )
    return (
        scored.withColumn("_rn", rn)
        .filter(F.col("_rn") <= int(top_per_cluster))
        .select("cluster", "id_a", "id_b", "cosine_e6")
    )


def semantic_keep(
    emb: DataFrame,
    eps: float = 0.99,
    k: int | str = "auto",
    target_cluster_size: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "ivf",
    n_probe: int = 2,
) -> DataFrame:
    """SemDeDup's END — the keep/drop decision a training-data pipeline
    actually consumes (semantic_near_dups surfaces the evidence pairs;
    this emits the verdict): cluster with the hierarchical fixed-point
    K-Means, score cosine within clusters only, and DROP every doc that
    has a LOWER-id witness in its cluster with cosine >= ``eps`` — the
    deterministic min-id form of the paper's keep-one-per-duplicate-set
    rule (Abbas et al. 2023 §3: within-cluster pairs above eps collapse
    to one representative; min-id makes the choice engine-replayable).
    Returns (doc_id, cluster, kept) for EVERY doc, kept ∈ {0, 1}.

    Scale shape: identical to semantic_near_dups (the decision is a
    within-cluster anti-join — no new quadratic term, and the drop rule
    needs no connected components: a doc keeps or drops on the
    EXISTENCE of a smaller-id near-dup, one semi-join)."""
    import math

    from ..functions.numeric import e_int
    from .similarity import pair_cosine_join

    if k == "auto":
        k = max(2, math.ceil(emb.count() / target_cluster_size))
    assign_df = semantic_assignments(
        emb, int(k), id_col=id_col, vec_col=vec_col, assign=assign, n_probe=n_probe
    )
    a = assign_df.select(F.col("doc_id").alias("id_a"), F.col("cluster"))
    b = assign_df.select(F.col("doc_id").alias("id_b"), F.col("cluster").alias("_cb"))
    pairs = a.join(
        b, (F.col("cluster") == F.col("_cb")) & (F.col("id_a") < F.col("id_b"))
    ).select("cluster", "id_a", "id_b")
    eps_e6 = int(round(eps * 1_000_000))
    dropped = (
        pair_cosine_join(pairs, emb, id_col=id_col, vec_col=vec_col)
        .select("id_b", e_int(F.col("cosine"), 6).alias("cosine_e6"))
        .filter(F.col("cosine_e6") >= eps_e6)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return assign_df.join(
        dropped.withColumn("_d", F.lit(1)), "doc_id", "left"
    ).select(
        "doc_id",
        "cluster",
        F.when(F.col("_d").isNull(), F.lit(1)).otherwise(F.lit(0)).cast("int").alias("kept"),
    )


def semantic_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    eps: float = 0.99,
    k: int | str = "auto",
    target_cluster_size: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
) -> DataFrame:
    """Incremental SemDeDup — the batch×corpus shape (the semantic twin
    of :func:`minhash_near_dups_against` / the dedup_incremental entry):
    train the hierarchical fixed-point clustering on the CORPUS once,
    quantize each arriving BATCH doc through the SAME trained model (one
    fused kernel pass — centroids never move), and score cosines only
    between a batch doc and the corpus members of ITS cluster. Returns
    one verdict row per batch doc: (doc_id, cluster, n_dups,
    max_cosine_e6, is_new) where n_dups counts corpus members at
    cosine >= ``eps``, max_cosine_e6 is the best in-cluster match
    (sentinel -2000000 when the assigned cluster holds NO corpus
    members in the final assignment — rare but possible: a fine
    cluster survives in the trained model via pass 1 yet loses every
    corpus doc in pass 2, so treat is_new=1 with the sentinel as
    "unverified", not "verified novel"), and is_new = 1 iff no corpus
    member reaches eps.

    Scale shape: the batch never sees the corpus pairwise — per batch
    doc the comparisons are bounded by its one cluster's size, and the
    corpus is re-clustered zero times per batch. Ids must be disjoint
    across the two tables (caller contract; the adjudicated entry
    offsets planted ids by max+1)."""
    import math

    from .kmeans import assign_with_model, dense_e4_long_form, kmeans_fixedpoint_ivf_model

    if k == "auto":
        k = max(2, math.ceil(corpus.count() / target_cluster_size))
    w = dense_e4_long_form(corpus, id_col, vec_col)
    dense_c = corpus.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(vec_col).alias("vec")
    )
    corpus_assign, model = kmeans_fixedpoint_ivf_model(
        w, int(k), n_probe=n_probe, weight_col="x_e4", dense=dense_c
    )
    dense_b = batch.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(vec_col).alias("vec")
    )
    batch_assign = assign_with_model(dense_b, model).select("doc_id", "cluster")
    allemb = corpus.select(id_col, vec_col).unionByName(batch.select(id_col, vec_col))
    eps_e6 = int(round(eps * 1_000_000))
    return assigned_batch_verdicts(
        batch_assign, corpus_assign, allemb, eps_e6, id_col=id_col, vec_col=vec_col
    )


def assigned_batch_verdicts(
    batch_assign: DataFrame,
    corpus_assign: DataFrame,
    allemb: DataFrame,
    eps_e6: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The verdict tail of :func:`semantic_incremental`, shared verbatim
    with the streaming twin's foreachBatch route
    (streaming/semantic.serve_semantic_verdicts_foreachbatch) so the two
    paths are bit-identical BY CONSTRUCTION: join each assigned batch doc
    to the corpus members of its cluster, score exact fixed-point
    cosines, and emit one verdict row per batch doc — (doc_id, cluster,
    n_dups, max_cosine_e6, is_new) with the -2000000 sentinel when the
    cluster holds no corpus member."""
    from ..functions.numeric import e_int
    from .similarity import pair_cosine_join

    pairs = (
        batch_assign.select(F.col("doc_id").alias("id_b"), "cluster")
        .join(
            corpus_assign.select(F.col("doc_id").alias("id_a"), F.col("cluster")),
            "cluster",
        )
        .select("cluster", "id_a", "id_b")
    )
    scored = pair_cosine_join(pairs, allemb, id_col=id_col, vec_col=vec_col).select(
        "id_b", e_int(F.col("cosine"), 6).alias("cosine_e6")
    )
    agg = scored.groupBy("id_b").agg(
        F.sum(F.when(F.col("cosine_e6") >= eps_e6, 1).otherwise(0))
        .cast("long")
        .alias("_nd"),
        F.max("cosine_e6").alias("_mx"),
    )
    return batch_assign.join(
        agg, batch_assign["doc_id"] == agg["id_b"], "left"
    ).select(
        "doc_id",
        "cluster",
        F.coalesce(F.col("_nd"), F.lit(0).cast("long")).alias("n_dups"),
        F.coalesce(F.col("_mx"), F.lit(-2_000_000).cast("long")).alias("max_cosine_e6"),
        F.when(F.coalesce(F.col("_nd"), F.lit(0)) == 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_new"),
    )


def semantic_assignments(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "ivf",
    n_probe: int = 2,
    n_assign_passes: int = 2,
) -> DataFrame:
    """(doc_id, cluster): the clustering stage shared by
    :func:`semantic_near_dups` and :func:`semantic_keep` — e4-quantized
    long form into the hierarchical (or exact) fixed-point K-Means."""
    from .kmeans import dense_e4_long_form, kmeans_fixedpoint, kmeans_fixedpoint_ivf

    w = dense_e4_long_form(emb, id_col, vec_col)
    if assign == "ivf":
        if n_assign_passes != 2:
            raise ValueError(
                "the hierarchical (ivf) kernel is fixed at 2 assignment "
                "passes; n_assign_passes applies to assign='exact' only"
            )
        dense = emb.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(vec_col).alias("vec")
        )
        return kmeans_fixedpoint_ivf(
            w, k=int(k), n_probe=n_probe, weight_col="x_e4", dense=dense
        ).select("doc_id", "cluster")
    if assign == "exact":
        return kmeans_fixedpoint(
            w, k=int(k), n_assign_passes=n_assign_passes, weight_col="x_e4",
            output="assignments",
        ).select("doc_id", "cluster")
    raise ValueError(f"assign must be 'ivf' or 'exact', got {assign!r}")


def jaccard_generator_profile(
    sh: DataFrame, threshold: float, budget_factor: int = 30
) -> dict:
    """The candidate-generator DECISION the prefix-filter studies call
    for (SCALING.md round-6: "pick the candidate generator by the
    corpus's shingle-frequency profile — one groupBy to check"), made
    executable and engine-replayable. Builds the prefix table exactly
    as :func:`prefix_candidates` would (global-df rarest-first order,
    length |A| - ceil(t·|A|) + 1) and computes the EXACT size of the
    candidate-pair multiset its self-join would emit —
    Σ_shingle C(prefix_df, 2) — without running the join. That number
    is the whole cost model: the prefix filter's only super-linear
    stage is the candidate join, so

        prefix_cand_pairs <= budget_factor · n_docs  →  'prefix'
        (lossless, recall 1.0, no signature work), else 'lsh'
        (the minhash cascade: linear signature cost, probabilistic
        recall, candidates bounded by banding).

    The factor 30 brackets the measured crossover (zipf corpus t=0.9:
    5·n candidates → prefix wins 2×; t=0.8: 29·n → parity; the uniform
    30-word-vocab corpus: ~quadratic → LSH wins 2-4×; SCALING.md
    round-6 table). Everything here is integer counts over one
    deterministic ranking, so a SQL engine replays the decision
    bit-for-bit — the dedup_jaccard_autoselect entry adjudicates it.

    Returns {n_docs, distinct_shingles, prefix_cand_pairs, generator}."""
    # three consumers (freq, n_docs, prefix ranking) — pin the shingle
    # table once instead of re-tokenizing the corpus per branch
    sh = sh.localCheckpoint(eager=False)
    prefix, freq = _prefix_table(sh, threshold)
    return _profile_counts(sh, prefix, freq, budget_factor)


def _profile_counts(
    sh: DataFrame, prefix: DataFrame, freq: DataFrame, budget_factor: int
) -> dict:
    """The counting tail of :func:`jaccard_generator_profile`, split out
    so :func:`jaccard_near_dups_auto` can size the candidate join from
    the SAME prefix table its prefix arm then self-joins (one build, one
    checkpoint — the profile is otherwise pure overhead on the arm that
    proceeds to use the table anyway)."""
    cand_df = (
        prefix.groupBy("shingle")
        .agg(F.count("*").alias("pdf"))
        .agg(
            F.coalesce(
                F.sum(F.expr("pdf * (pdf - 1) DIV 2")), F.lit(0).cast("long")
            ).alias("cand")
        )
    )
    nd_df = sh.agg(F.count_distinct("doc_id").alias("_nd"))
    ds_df = freq.agg(F.count("*").alias("_ds"))
    # ONE action for all three scalars (separate .count() jobs would
    # re-run the whole chain per scalar — measured 3.2s -> ~1.2s)
    row = cand_df.crossJoin(nd_df).crossJoin(ds_df).head()
    cand, n_docs, distinct_shingles = row["cand"], row["_nd"], row["_ds"]
    generator = "prefix" if cand <= budget_factor * n_docs else "lsh"
    return {
        "n_docs": int(n_docs),
        "distinct_shingles": int(distinct_shingles),
        "prefix_cand_pairs": int(cand),
        "generator": generator,
    }


def jaccard_near_dups_auto(
    df: DataFrame,
    threshold: float = 0.9,
    shingle_size: int = 1,
    budget_factor: int = 30,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    bitmap_max_vocab: int = BITMAP_MAX_VOCAB,
    verify_max_tokens: int = 0,
) -> tuple[DataFrame, dict]:
    """Exact-verified Jaccard near-dups with the CANDIDATE GENERATOR
    auto-selected per corpus (:func:`jaccard_generator_profile`):
    long-tail shingle distributions (real text) route through the
    lossless prefix filter (recall 1.0, wins 2× on the measured zipf
    corpus at t=0.9), hot-vocabulary corpora through the minhash
    cascade (the uniform corpus where the prefix join is quadratic).
    Returns (pairs, profile) — pairs is (id_a, id_b, jaccard >= t),
    profile records the decision and its statistic. Both arms verify
    with the same exact kernel, so on any corpus where both achieve
    full recall the outputs are identical (pinned on both corpus
    shapes by test).

    Cost discipline (measured, interleaved same-session runs at
    sf0.1): the SHINGLE table is checkpointed once (every consumer —
    freq, window, verify — reads the materialized rows), but the
    prefix table is deliberately NOT: its window re-runs in the
    profile action and again fused into the verify action, and that is
    ~2× cheaper than checkpointing it (the plan→RDD conversion plus
    block write/read cost more than the window — the
    checkpoint-vs-recompute pitfall). With that shape the whole
    self-routing entry measures within noise of the unconditional
    prefix join (2.95s vs 2.90s) — the safety is free where the prefix
    arm wins. ``bitmap_max_vocab`` / ``verify_max_tokens`` pass
    through to BOTH arms' exact verify (round-10: previously the
    prefix arm only — the LSH arm re-enabled the dense-dictionary
    probe on precisely the saturated/large-vocab corpora that route
    there; callers with large shingle vocabularies set
    ``bitmap_max_vocab=0`` to skip the doomed probe on either arm)."""
    sh = shingles(df, id_col, text_col, shingle_size).localCheckpoint(eager=False)
    prefix, freq = _prefix_table(sh, threshold)
    prof = _profile_counts(sh, prefix, freq, budget_factor)
    if prof["generator"] == "prefix":
        cands = _prefix_self_join(prefix)
        pairs = jaccard_pairs(
            sh,
            pairs=cands,
            bitmap_max_vocab=bitmap_max_vocab,
            min_jaccard=threshold,
            verify_max_tokens=verify_max_tokens,
        ).filter(F.col("jaccard") >= threshold)
    else:
        # pass the checkpointed shingle table through — the profile
        # already materialized it, re-tokenizing the corpus for the LSH
        # arm would double the scan (round-7 ADVICE)
        pairs = minhash_near_dups(
            df, threshold=threshold, num_hashes=num_hashes,
            rows_per_band=rows_per_band, shingle_size=shingle_size,
            id_col=id_col, text_col=text_col, sh=sh,
            bitmap_max_vocab=bitmap_max_vocab,
            verify_max_tokens=verify_max_tokens,
        )
    return pairs, prof


# ---------------------------------------------------------------------------
# Unified near-dup facade (round 9): one signature-table contract across
# the four 64-bit-fingerprint lanes
# ---------------------------------------------------------------------------
NEAR_DUP_MODALITIES = ("text", "image", "audio", "video")


def near_dup_signatures(
    df: DataFrame,
    modality: str = "text",
    id_col: str | None = None,
    text_col: str | None = None,
    n_segments: int | None = None,
    every_n: int | None = None,
    max_frames: int | None = None,
) -> DataFrame:
    """The shared SIGNATURE-TABLE contract — ``(doc_id, sim_hi, sim_lo)``,
    a 64-bit fingerprint as two nonnegative 32-bit lanes — produced by
    whichever lane matches the input modality: text SimHash
    (:func:`simhash64` over ``(id_col, text_col)`` rows), image dHash /
    audio energy fingerprint / video majority dHash (the
    operators.multimodal kernels over ``(media_id, kind, content)``
    media rows — each lane filters its own ``kind``, so a mixed media
    table routes cleanly, and the id column comes back renamed to the
    contract's ``doc_id``). Every lane's output feeds the SAME
    pigeonhole blocking (:func:`simhash_near_dups` /
    :func:`simhash_near_dups_against`); this facade is the one place
    the lane signatures are allowed to differ.

    Per-lane knobs (defaults in brackets): text takes ``id_col``
    [doc_id] / ``text_col`` [text]; audio takes ``n_segments`` [65];
    video takes ``every_n`` [2] / ``max_frames`` [4]; image takes
    none. A knob passed to a lane it does not apply to RAISES instead
    of being silently dropped (round-9 ADVICE — the same contract the
    ``against`` route enforces for ``salt_buckets``): a caller setting
    ``every_n`` on an audio table is holding the wrong lane, and a
    no-op would hide that until the dup sets look wrong."""
    passed = {
        k: v
        for k, v in {
            "id_col": id_col,
            "text_col": text_col,
            "n_segments": n_segments,
            "every_n": every_n,
            "max_frames": max_frames,
        }.items()
        if v is not None
    }
    applies = {
        "text": {"id_col", "text_col"},
        "image": set(),
        "audio": {"n_segments"},
        "video": {"every_n", "max_frames"},
    }
    if modality not in applies:
        raise ValueError(
            f"modality must be one of {NEAR_DUP_MODALITIES}, got {modality!r}"
        )
    stray = sorted(set(passed) - applies[modality])
    if stray:
        raise ValueError(
            f"{stray} do not apply to the {modality!r} lane (it takes "
            f"{sorted(applies[modality]) or 'no knobs'}); a silently "
            "dropped knob would leave the signatures unchanged with no "
            "signal why"
        )
    if modality == "text":
        return simhash64(df, passed.get("id_col", "doc_id"), passed.get("text_col", "text"))
    from .multimodal import audio_fingerprint, image_dhash, video_dhash

    if modality == "image":
        sig = image_dhash(df)
    elif modality == "audio":
        sig = audio_fingerprint(df, n_segments=passed.get("n_segments", 65))
    else:
        sig = video_dhash(
            df,
            every_n=passed.get("every_n", 2),
            max_frames=passed.get("max_frames", 4),
        )
    return sig.withColumnRenamed("media_id", "doc_id")


def near_dups(
    df: DataFrame,
    modality: str = "text",
    max_hamming: int = 4,
    against: DataFrame | None = None,
    block: bool = True,
    salt_buckets: int = 1,
    **lane_kwargs,
) -> DataFrame:
    """Near-duplicate pairs for ANY of the four fingerprint lanes
    through ONE call signature — the dispatcher the per-modality
    entries compose by hand (mm_image_near_dups, mm_audio_near_dups,
    mm_video_near_dups, dedup_simhash, mm_image_dedup_incremental are
    all one facade call each; parity pinned by test, entries
    unchanged). Returns ``(id_a, id_b, hamming)`` with
    ``hamming <= max_hamming``.

    ``against=None``: self near-dedup — the signature table feeds the
    pigeonhole-blocked SELF-join (:func:`simhash_near_dups`).
    ``against=corpus_df``: incremental ingest — ``df`` is the arriving
    batch, signatures of BOTH sides feed the cross-side blocking
    (:func:`simhash_near_dups_against`; ``id_a`` from the corpus,
    ``id_b`` from the batch; the corpus never self-joins).

    Media-lane signatures (Arrow/numpy mapInPandas chains) are
    lazy-localCheckpointed before the join — without the lineage cut
    each join side re-runs the whole Python build+hash chain (measured
    2× the entry wall time); the text lane deliberately is NOT — both
    sides of its blocking join share the signature aggregation's
    shuffle via ReusedExchange, which beats materializing (measured,
    see the dedup_simhash entry). ``lane_kwargs`` pass through to
    :func:`near_dup_signatures` (id_col/text_col, n_segments,
    every_n/max_frames)."""
    sig = near_dup_signatures(df, modality, **lane_kwargs)
    if modality != "text":
        sig = sig.localCheckpoint(eager=False)
    if against is not None:
        if salt_buckets != 1:
            raise ValueError(
                "salt_buckets applies to the self-join route only; the "
                "cross-side blocking (against=...) has no salting "
                "support — a silently dropped knob would leave the "
                "straggler bucket unchanged with no signal why"
            )
        sig_c = near_dup_signatures(against, modality, **lane_kwargs)
        if modality != "text":
            sig_c = sig_c.localCheckpoint(eager=False)
        return simhash_near_dups_against(sig_c, sig, max_hamming, block=block)
    return simhash_near_dups(
        sig, max_hamming, block=block, salt_buckets=salt_buckets
    )
