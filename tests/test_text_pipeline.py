"""Text pipeline vs independent Python oracles (SURVEY.md §5.2 items 2-3)
and ETL structural invariants, including hypothesis property tests."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from skripsi_mapreduce_spark.functions.text import tokenize_col
from skripsi_mapreduce_spark.operators.etl import assign_sequential_ids, extract_transform
from skripsi_mapreduce_spark.operators.tfidf import tfidf_long

from .conftest import SF_DIR
from .oracles import tfidf_oracle, tokenize

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
VOCAB = ["good", "bad", "great", "slow", "fast", "big", "small", "nice"]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The GOOD, the bad and the ugly — a great great story!"),
        (2, "slow slow slow service, big portions, fast checkout"),
        (3, "it is what it is"),  # all stopwords/short tokens -> empty
        (4, "Nice and small. Nice and fast. Absolutely nice."),
        (5, ""),  # empty text
        (6, "unicode café naïve übergood nice"),  # non-ascii chars
    ]
    return rows


def test_tokenizer_matches_oracle(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["toks"]
        for r in df.select(
            "doc_id", tokenize_col("text", STOPWORDS, VOCAB).alias("toks")
        ).collect()
    }
    for d, text in docs:
        assert got[d] == tokenize(text, STOPWORDS, VOCAB), f"doc {d}"


def test_tokenizer_no_filters(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["toks"]
        for r in df.select("doc_id", tokenize_col("text").alias("toks")).collect()
    }
    for d, text in docs:
        assert got[d] == tokenize(text), f"doc {d}"


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd the of xyz GOOD bad!.,é2"), max_size=60
        ),
        min_size=1,
        max_size=6,
    )
)
def test_tokenizer_property(spark, texts):
    """Tokenizer invariants: matches the regex oracle; no stopwords in
    output; vocabulary closure."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["toks"]
        for r in df.select(
            "doc_id", tokenize_col("text", STOPWORDS, VOCAB).alias("toks")
        ).collect()
    }
    for i, t in rows:
        expect = tokenize(t, STOPWORDS, VOCAB)
        assert got[i] == expect
        assert not (set(got[i]) & set(STOPWORDS))
        assert set(got[i]) <= set(VOCAB)


def test_tfidf_matches_oracle(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["word"]): r["weight"]
        for r in tfidf_long(df, stopwords=STOPWORDS, vocab=VOCAB).collect()
    }
    expect = tfidf_oracle(dict(docs), stopwords=STOPWORDS, vocab=VOCAB)
    assert set(got) == set(expect)
    for key in expect:
        assert got[key] == pytest.approx(expect[key], abs=1.5e-6), key


def test_tfidf_l2_norm_is_one(spark):
    """Property: every non-empty document's weight vector has unit norm
    (within 6dp rounding)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = tfidf_long(docs, stopwords=STOPWORDS)
    norms = out.groupBy("doc_id").agg(
        F.sum(F.col("weight") * F.col("weight")).alias("n2")
    )
    bad = norms.filter(F.abs(F.col("n2") - 1.0) > 1e-4).count()
    assert bad == 0


def test_assign_sequential_ids(spark):
    rows = [(f"asin{i % 7:02d}", f"r{i:03d}") for i in range(200)]
    df = spark.createDataFrame(rows, "asin string, reviewerID string")
    out = assign_sequential_ids(df, ["asin", "reviewerID"], id_col="id", num_partitions=8)
    got = [(r["asin"], r["reviewerID"], r["id"]) for r in out.collect()]
    expect_order = sorted(rows)
    expect = {(a, rv): i + 1 for i, (a, rv) in enumerate(expect_order)}
    assert len(got) == 200
    for a, rv, i in got:
        assert expect[(a, rv)] == i


_TIED = [(i % 5, f"w{(i * 7) % 23:02d}") for i in range(23)]
_NULLS = [(None if i % 4 == 0 else i % 3, f"w{i:02d}") for i in range(17)]


@pytest.mark.parametrize(
    "rows, desc, num_partitions",
    [
        (_TIED, True, 4),  # tfidf_long(max_features=)'s (df desc, word) form
        (_NULLS, False, 3),  # ascending puts null keys first
        (_NULLS, True, 3),  # descending puts them last
        (_TIED[:5], False, 16),  # empty range partitions
        ([], False, 4),
        ([(1, "only")], False, 4),
    ],
    ids=["desc-tiebreak", "nulls-asc", "nulls-desc", "partitions-gt-rows", "empty", "one-row"],
)
def test_assign_sequential_ids_matches_sorted_enumerate(spark, rows, desc, num_partitions):
    """The rank equals a Python sorted-enumerate, keeps the int id type
    and plans no Window and no Exchange: the rows cross the range
    partitioning once, inside the checkpoint, and a row's local rank is
    its position in its sorted partition."""
    import re

    from pyspark.sql import types as T

    df = spark.createDataFrame(rows, "k int, w string")
    key = F.col("k").desc() if desc else F.col("k")
    out, n = assign_sequential_ids(
        df, [key, F.col("w")], num_partitions=num_partitions, with_total=True
    )
    assert out.schema["id"].dataType == T.IntegerType()

    def sort_key(r):
        k = r[0]
        if desc:  # DESC: nulls last
            return (k is None, -(k or 0), r[1])
        return (k is not None, k or 0, r[1])  # ASC: nulls first

    expect = [(k, w, i + 1) for i, (k, w) in enumerate(sorted(rows, key=sort_key))]
    got = sorted(((r["k"], r["w"], r["id"]) for r in out.collect()), key=lambda t: t[2])
    assert got == expect
    assert n == len(rows)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert not re.search(r"\bWindow\b", plan), plan
    assert not re.search(r"\bExchange\b", plan), plan


def test_extract_transform_end_to_end(spark, tmp_path):
    import json

    lines = [
        {"reviewerID": "u2", "asin": "B02", "reviewerName": "Bea", "reviewText": "A GOOD big book"},
        {"reviewerID": "u1", "asin": "B01", "reviewerName": "Al", "reviewText": "slow and bad..."},
        {"reviewerID": "u3", "asin": "B01", "reviewerName": "Cy", "reviewText": "nice nice GREAT"},
        {"reviewerID": "u4", "asin": "B03", "reviewerName": "Di"},  # missing reviewText
    ]
    p = tmp_path / "reviews.json"
    with open(p, "w") as f:
        for obj in lines:
            f.write(json.dumps(obj) + "\n")
        f.write('{"review/text": "legacy format line"}\n')  # O2 drop

    out, n = extract_transform(spark, str(p), STOPWORDS, VOCAB)
    rows = {r["id"]: r for r in out.collect()}
    assert n == 3
    # ids 1..N in asin order (B01 < B02), reviewerID tiebreak within asin
    assert rows["1"]["asin"] == "B01" and rows["1"]["reviewerID"] == "u1"
    assert rows["2"]["asin"] == "B01" and rows["2"]["reviewerID"] == "u3"
    assert rows["3"]["asin"] == "B02"
    assert rows["1"]["adjectiveWord"] == ["slow", "bad"]
    assert rows["2"]["adjectiveWord"] == ["nice", "nice", "great"]
    assert rows["3"]["adjectiveWord"] == ["good", "big"]


def test_idf_formula(spark):
    """df=0 default: a vocab word in no document gets idf = ln(N+1)+1 when
    joined through the left-join default path (O21)."""
    from skripsi_mapreduce_spark.operators.tfidf import document_frequency, tokens_long

    df = spark.createDataFrame([(1, "good bad"), (2, "good")], "doc_id long, text string")
    toks = tokens_long(df)
    idf = {r["word"]: r["idf"] for r in document_frequency(toks, 2).collect()}
    assert idf["good"] == pytest.approx(math.log(3 / 3) + 1)
    assert idf["bad"] == pytest.approx(math.log(3 / 2) + 1)
