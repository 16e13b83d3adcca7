"""User-facing engine facade — the namespaced API surface declared in
SURVEY.md §2.5 (engine.text.*, engine.cluster.*, engine.dedup.*,
engine.sim.*, engine.stream.*), thin delegation over the operator modules.

    from skripsi_mapreduce_spark.api import Engine
    eng = Engine()                       # or Engine(spark)
    toks  = eng.text.tokenize(df, "text", stopwords=[...])
    feats = eng.text.tfidf(df, stopwords=[...])
    res   = eng.cluster.kmeans(feats, k=8, max_iter=10, seed=42)
    dups  = eng.dedup.minhash(docs, threshold=0.8)
    top   = eng.sim.topk(emb, query_vec, k=10)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import get_spark


class _Text:
    def __init__(self, eng: "Engine"):
        self._eng = eng

    def tokenize(self, df: DataFrame, text_col: str, stopwords=None, vocab=None,
                 out_col: str = "tokens") -> DataFrame:
        from .functions.text import tokenize_col

        return df.withColumn(out_col, tokenize_col(text_col, stopwords, vocab))

    def tfidf(self, df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
              **kw) -> DataFrame:
        from .operators.tfidf import tfidf_long

        return tfidf_long(df, id_col=id_col, text_col=text_col, **kw)

    def token_stats(self, df: DataFrame, **kw) -> DataFrame:
        from .operators.text_analysis import token_stats

        return token_stats(df, **kw)

    def learn_bpe(self, df: DataFrame, n_merges: int, **kw):
        """Train a BPE tokenizer on the corpus (operators/bpe.py):
        ordered merge list, deterministic argmax ties."""
        from .operators.bpe import learn_bpe

        return learn_bpe(df, n_merges, **kw)

    def bpe_token_count(self, df: DataFrame, merges, **kw) -> DataFrame:
        """Per-doc token counts under a learned BPE tokenizer (merge
        chain applied once per distinct word, broadcast back)."""
        from .operators.bpe import bpe_token_count

        return bpe_token_count(df, merges, **kw)

    def quality(self, df: DataFrame, **kw) -> DataFrame:
        from .operators.text_analysis import quality_score

        return quality_score(df, **kw)

    def lang_id(self, df: DataFrame, **kw) -> DataFrame:
        from .operators.text_analysis import lang_id

        return lang_id(df, **kw)

    def fingerprint(self, df: DataFrame, **kw) -> DataFrame:
        from .operators.text_analysis import fingerprint

        return fingerprint(df, **kw)

    def bm25(self, df: DataFrame, query_terms: list[str], k: int = 20, **kw) -> DataFrame:
        """Top-k documents by BM25 relevance (lexical search twin of
        engine.sim.topk)."""
        from .operators.search import bm25_topk

        return bm25_topk(df, query_terms, k=k, **kw)

    def bm25_model(self, df: DataFrame, **kw):
        """Materialize the maintainable lexical model (postings,
        doclen) — serve with bm25_query, maintain with bm25_update."""
        from .operators.search import bm25_model

        return bm25_model(df, **kw)

    def bm25_update(self, postings: DataFrame, doclen: DataFrame, delta: DataFrame, **kw):
        """Absorb a document delta (new docs + replacements) into the
        lexical model; row-identical to a reindex (adjudicated)."""
        from .operators.search import bm25_update_model

        return bm25_update_model(postings, doclen, delta, **kw)

    def bm25_query(
        self, postings: DataFrame, doclen: DataFrame, query_terms: list[str],
        k: int = 20, **kw,
    ) -> DataFrame:
        """Top-k against a materialized model (bm25_model/bm25_update)."""
        from .operators.search import bm25_topk_from_model

        return bm25_topk_from_model(postings, doclen, query_terms, k=k, **kw)

    def feature_hash_embed(self, df: DataFrame, dim: int = 16, **kw) -> DataFrame:
        """Text -> embedding via the hashing trick (Weinberger 2009):
        unigram+bigram grams into a fixed d-dim signed count vector,
        L2-normalized, long form (doc_id, dim, value_e6). No
        vocabulary, no fit pass — the stateless web-scale vectorizer
        (adjudicated: emb_feature_hashing)."""
        from .operators.text_analysis import feature_hash_embed

        return feature_hash_embed(df, dim=dim, **kw)


class _Cluster:
    def __init__(self, eng: "Engine"):
        self._eng = eng

    def kmeans(self, features: DataFrame, k: int, max_iter: int, seed: int = 42, **kw):
        from .operators.kmeans import kmeans

        return kmeans(self._eng.spark, features, k=k, max_iter=max_iter, seed=seed, **kw)

    def kmeans_fixedpoint(self, weights: DataFrame, k: int = 5, **kw) -> DataFrame:
        """Oracle-exact int64 Lloyd over e4-scaled weights (md5-first
        init, fixed assignment passes). Centroids stay distributed past
        the driver-collect bound; ``output`` picks the summary or the
        (lazy) assignments. See operators.kmeans.kmeans_fixedpoint."""
        from .operators.kmeans import kmeans_fixedpoint

        return kmeans_fixedpoint(weights, k=k, **kw)

    def kmeans_ml(self, features: DataFrame, k: int, max_iter: int, seed: int = 42, **kw):
        from .operators.kmeans import kmeans_ml

        return kmeans_ml(self._eng.spark, features, k=k, max_iter=max_iter, seed=seed, **kw)


class _Dedup:
    def __init__(self, eng: "Engine"):
        self._eng = eng

    def exact(self, df: DataFrame, cols=None) -> DataFrame:
        from .operators.dedup import dedup_exact

        return dedup_exact(df, cols)

    def exact_groups(self, df: DataFrame, **kw) -> DataFrame:
        from .operators.dedup import exact_duplicate_groups

        return exact_duplicate_groups(df, **kw)

    def minhash(self, df: DataFrame, threshold: float = 0.8, **kw) -> DataFrame:
        from .operators.dedup import minhash_near_dups

        return minhash_near_dups(df, threshold=threshold, **kw)

    def ngram_jaccard(self, df: DataFrame, threshold: float, **kw) -> DataFrame:
        from .operators.dedup import ngram_near_dups

        return ngram_near_dups(df, threshold=threshold, **kw)

    def simhash(self, df: DataFrame, **kw) -> DataFrame:
        from .operators.dedup import simhash64

        return simhash64(df, **kw)

    def simhash_pairs(self, sigs: DataFrame, max_hamming: int = 3, **kw) -> DataFrame:
        from .operators.dedup import simhash_near_dups

        return simhash_near_dups(sigs, max_hamming, **kw)

    def embedding_cosine(self, emb: DataFrame, threshold: float = 0.99, **kw) -> DataFrame:
        from .operators.similarity import embedding_near_dups

        return embedding_near_dups(emb, threshold=threshold, **kw)

    def near_dups(
        self,
        df: DataFrame,
        modality: str = "text",
        max_hamming: int = 4,
        against: DataFrame | None = None,
        **kw,
    ) -> DataFrame:
        """One near-dup call across the four fingerprint lanes (text /
        image / audio / video) and both routes (self near-dedup, or
        batch-vs-corpus incremental via ``against``) — see
        operators/dedup.near_dups."""
        from .operators.dedup import near_dups

        return near_dups(df, modality, max_hamming, against=against, **kw)


class _Sim:
    def __init__(self, eng: "Engine"):
        self._eng = eng

    def topk(self, emb: DataFrame, query_vec, k: int = 10, **kw) -> DataFrame:
        from .operators.similarity import topk_cosine

        return topk_cosine(emb, list(query_vec), k=k, **kw)

    def topk_lsh(self, emb: DataFrame, query_vec, k: int = 10, n_planes: int = 8, **kw) -> DataFrame:
        from .operators.similarity import lsh_topk_cosine

        return lsh_topk_cosine(emb, list(query_vec), k=k, n_planes=n_planes, **kw)

    def topk_ivf(self, emb: DataFrame, query_vec, k: int = 10, **kw) -> DataFrame:
        from .operators.similarity import ivf_topk_cosine

        return ivf_topk_cosine(emb, list(query_vec), k=k, **kw)

    def random_projection(self, emb: DataFrame, dim: int, out_dim: int = 8, **kw) -> DataFrame:
        """Deterministic ±1 (Achlioptas) dimensionality reduction —
        md5-parity signs, e8 fixed-point coordinates."""
        from .operators.similarity import random_projection

        return random_projection(emb, dim, out_dim, **kw)


class _Stream:
    def __init__(self, eng: "Engine"):
        self._eng = eng

    def events(self, sf_dir: str) -> DataFrame:
        from .streaming.windows import stream_events

        return stream_events(self._eng.spark, sf_dir)

    def tumbling(self, events: DataFrame, **kw) -> DataFrame:
        from .streaming.windows import tumbling_counts

        return tumbling_counts(events, **kw)

    def sessions(self, events: DataFrame, **kw) -> DataFrame:
        from .streaming.windows import sessionized_counts

        return sessionized_counts(events, **kw)

    def dedup(self, stream: DataFrame, key_cols: list[str], **kw) -> DataFrame:
        from .streaming.windows import streaming_dedup

        return streaming_dedup(stream, key_cols, **kw)

    def interval_join(self, left: DataFrame, right: DataFrame, key: str,
                      lo_seconds: float, hi_seconds: float, **kw) -> DataFrame:
        """Watermarked stream-stream interval join (batch-identical)."""
        from .streaming.joins import interval_join

        return interval_join(left, right, key, lo_seconds, hi_seconds, **kw)


class Engine:
    """Facade bundling the engine's operator namespaces over one session."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.text = _Text(self)
        self.cluster = _Cluster(self)
        self.dedup = _Dedup(self)
        self.sim = _Sim(self)
        self.stream = _Stream(self)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def profile(self, df: DataFrame, **kw) -> DataFrame:
        from .operators.profile import profile

        return profile(df, **kw)

    def asof_join(self, left: DataFrame, right: DataFrame, key: str, **kw) -> DataFrame:
        from .operators.asof import asof_join

        return asof_join(left, right, key, **kw)

    def range_join(
        self, left: DataFrame, right: DataFrame, lo_seconds: float, hi_seconds: float, **kw
    ) -> DataFrame:
        from .operators.rangejoin import range_join

        return range_join(left, right, lo_seconds, hi_seconds, **kw)

    def time_rollup(self, df: DataFrame, granularities: list, aggs: list, **kw) -> DataFrame:
        from .operators.rangejoin import time_rollup

        return time_rollup(df, granularities, aggs, **kw)

    def prepare_corpus(self, docs: DataFrame, **kw) -> DataFrame:
        """The standard corpus-prep composition: sample -> quality ->
        language -> exact dedup -> near dedup -> chunk."""
        from .operators.pipeline import prepare_corpus

        return prepare_corpus(docs, **kw)

    def corpus_filter(self, docs: DataFrame, **kw) -> DataFrame:
        """Narrow-only corpus-prep prefix — also runs on a readStream
        source for ingestion-time filtering."""
        from .operators.pipeline import corpus_filter

        return corpus_filter(docs, **kw)

    def sample(self, df: DataFrame, fraction: float, key_col: str = "doc_id", **kw) -> DataFrame:
        from .operators.pipeline import deterministic_sample

        return deterministic_sample(df, fraction, key_col, **kw)

    def stratified_sample(self, df: DataFrame, rates: dict, **kw) -> DataFrame:
        """Per-group deterministic sampling (domain mixing)."""
        from .operators.pipeline import stratified_sample

        return stratified_sample(df, rates, **kw)

    def mix_weights(self, df: DataFrame, weights: dict, **kw) -> dict:
        """Keep-rates that reshape the corpus to target group proportions."""
        from .operators.pipeline import mix_weights

        return mix_weights(df, weights, **kw)

    def weighted_sample(self, df: DataFrame, k: int, weight_col: str, **kw) -> DataFrame:
        """Deterministic weighted sampling without replacement
        (Efraimidis-Spirakis priorities over md5 draws)."""
        from .operators.pipeline import weighted_priority_sample

        return weighted_priority_sample(df, k, weight_col, **kw)

    def ngram_repetition(self, df: DataFrame, **kw) -> DataFrame:
        """Gopher-style repetition quality signals per document."""
        from .operators.text_analysis import ngram_repetition

        return ngram_repetition(df, **kw)

    def cross_doc_duplication(self, df: DataFrame, **kw) -> DataFrame:
        """Per-doc fraction of k-token windows shared with other docs."""
        from .operators.text_analysis import cross_doc_duplication

        return cross_doc_duplication(df, **kw)

    def duplicated_passages(self, df: DataFrame, **kw) -> DataFrame:
        """The repeated k-token windows themselves, with doc counts."""
        from .operators.text_analysis import duplicated_passages

        return duplicated_passages(df, **kw)

    def unigram_logprob(self, df: DataFrame, **kw) -> DataFrame:
        """Mean negative log-likelihood under the corpus unigram model."""
        from .operators.text_analysis import unigram_logprob

        return unigram_logprob(df, **kw)

    def remove_duplicated_passages(self, df: DataFrame, **kw) -> DataFrame:
        """Exact-substring dedup, removal half: drop tokens covered by
        cross-document-shared k-windows and rebuild each doc."""
        from .operators.text_analysis import remove_duplicated_passages

        return remove_duplicated_passages(df, **kw)

    def latest_snapshot(self, df: DataFrame, keys: list[str], **kw) -> DataFrame:
        """Changelog compaction: latest record version per key (one
        partial-aggregated max_by)."""
        from .operators.cdc import latest_snapshot

        return latest_snapshot(df, keys, **kw)

    def apply_changes(self, snapshot: DataFrame, changes: DataFrame, keys: list[str], **kw) -> DataFrame:
        """MERGE a changelog into a snapshot: latest change per key wins,
        delete ops drop the key."""
        from .operators.cdc import apply_changes

        return apply_changes(snapshot, changes, keys, **kw)

    def scrub_pii(self, df: DataFrame, **kw) -> DataFrame:
        from .operators.pipeline import scrub_pii

        return scrub_pii(df, **kw)

    def contamination_check(self, docs: DataFrame, eval_docs: DataFrame, **kw) -> DataFrame:
        from .operators.pipeline import contamination_check

        return contamination_check(docs, eval_docs, **kw)

    def duplicate_groups(self, pairs: DataFrame, **kw) -> DataFrame:
        from .operators.components import duplicate_groups

        return duplicate_groups(pairs, **kw)

    def table(self, sf_dir: str, name: str) -> DataFrame:
        from .io import load_table

        return load_table(self.spark, sf_dir, name)

    def register_views(self, sf_dir: str) -> None:
        from .io import register_views

        register_views(self.spark, sf_dir)
