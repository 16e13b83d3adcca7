"""Self-test of the benchmark code at tiny scale.

    python3 -m pytest perfbench/tests -q

Run from the repository root. The last test starts one Spark worker (about
half a minute); the rest need no Spark.
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import expect  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from passes import NUM_HASHES, ROWS_PER_BAND, THRESHOLD  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _docs_inputs(seed: int, n: int):
    g = gen.DocGen(seed)
    return g, g.corpus(n)


def test_generators_are_deterministic_per_seed():
    assert gen.reviews(7, 80, 30) == gen.reviews(7, 80, 30)
    assert gen.reviews(7, 80, 30)["lines"] != gen.reviews(8, 80, 30)["lines"]
    g1, d1 = _docs_inputs(7, 120)
    g2, d2 = _docs_inputs(7, 120)
    assert d1 == d2 and g1.batch(30, d1) == g2.batch(30, d2)
    assert _docs_inputs(8, 120)[1] != d1


def test_reviews_follow_fixture_f1():
    r = gen.reviews(3, 600, 40)
    recs = [json.loads(x) for x in r["lines"] if "review/text" not in x]
    assert any("review/text" in x for x in r["lines"])
    missing = [x for x in recs if not all(k in x for k in expect.REQUIRED)]
    assert 0 < len(missing) < 0.05 * len(recs)
    assert any(x.get("reviewText") == "" for x in recs)
    asins = [x["asin"] for x in recs if "asin" in x]
    assert len(set(asins)) < len(asins)
    assert not set(r["dictionary"]) & set(r["stopwords"])


def test_planted_near_copies_straddle_threshold():
    g, docs = _docs_inputs(5, 600)
    model = expect.LSHModel(NUM_HASHES, ROWS_PER_BAND)
    text = dict(docs)
    js = [
        model.jaccard(model.shingles(text[d]), model.shingles(text[src]))
        for d, src in g.cluster.items() if d != src and d in text
    ]
    assert any(j < THRESHOLD for j in js) and any(THRESHOLD <= j < 1 for j in js)
    assert any(j == 1 for j in js)  # exact copies


def test_lsh_model_matches_the_duckdb_oracle():
    import duckdb
    import pandas as pd

    from skripsi_mapreduce_spark.plans import ORACLE

    _, docs = _docs_inputs(11, 300)
    exp = expect.near_dedup_expected(docs, THRESHOLD, NUM_HASHES, ROWS_PER_BAND)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    got = sorted([int(a), int(b)] for a, b in con.execute(ORACLE["dedup_group_keep"]).fetchall())
    assert exp["keep"] and got == exp["keep"]


def test_checks_reject_corrupted_results():
    # dedup: the expected keep list passes, a moved document fails
    g, docs = _docs_inputs(13, 300)
    exp = expect.near_dedup_expected(docs, THRESHOLD, NUM_HASHES, ROWS_PER_BAND)
    rows = [{"doc_id": d, "keep_id": k} for d, k in exp["keep"]]
    assert expect.check_near_dedup(exp, rows) == (1, [])
    bad = copy.deepcopy(rows)
    bad[-1]["keep_id"] += 1
    assert expect.check_near_dedup(exp, bad)[1]
    assert expect.check_planted([[1, 1], [2, 1]], {1: 1, 2: 2})

    # ingest: a dropped verdict fails
    batches, pool = [], list(docs)
    for _ in range(2):
        batches.append(g.batch(40, pool))
        pool += batches[-1]
    iexp = expect.ingest_expected(docs, batches, THRESHOLD, NUM_HASHES, ROWS_PER_BAND)
    info = {"verdicts": copy.deepcopy(iexp["verdicts"])}
    assert expect.check_ingest(iexp, info, iexp["store_ids"])[1] == []
    assert any(info["verdicts"])
    next(v for v in info["verdicts"] if v).pop()
    assert expect.check_ingest(iexp, info, iexp["store_ids"])[1]

    # paper pipeline: a perturbed weight fails, the exact rows pass
    r = gen.reviews(17, 120, 30)
    pexp = expect.paper_expected(r["lines"], r["dictionary"], r["stopwords"], 3, 10, 42)
    book = [{"id": i, **b} for i, b in pexp["book"].items()]
    feats = [{"doc_id": d, "word": w, "weight": v} for d, w, v in pexp["weights"]]
    clusters = [{"doc_id": int(d), "cluster": c} for d, c in pexp["assign"].items()]
    pinfo = {k: pexp[k] for k in ("n_docs", "iterations", "converged", "centroids", "sse")}
    assert expect.check_paper(pexp, pinfo, book, feats, clusters) == (3, [])
    feats[0]["weight"] += 1e-6
    assert expect.check_paper(pexp, pinfo, book, feats, clusters)[1]


def _fake_pass(layers: bool) -> dict:
    stage = {"tasks": 4, "failed_tasks": 0, "run_ms": 10, "cpu_ns": 5e6, "gc_ms": 1,
             "shuffle_write": 1000, "shuffle_read": 1000, "input": 10}
    spans = [{"id": 0, "layer": "dedup", "parent": None, "forces": [], "start": 1.0, "end": 3.0}]
    return {
        "run_s": 2.0, "cpu_s": 3.0, "peak_rss_mb": 100.0, "start_s": 1.0, "warm_s": 0.5,
        "jobs": [{"id": 1, "group": "0" if layers else None, "start_ms": 1500, "end_ms": 2000,
                  "status": "SUCCEEDED", "stages": [stage]}],
        "session_jobs": [], "spans": spans if layers else [], "info": {},
        "env": {"steal_share": 0.0},
    }


def test_every_named_metric_is_reported_with_its_unit(tmp_path):
    spec = _spec()
    stolen = _fake_pass(False)
    stolen["env"]["steal_share"], stolen["run_s"] = 0.5, 9.0
    e2e = run.report([(stolen, False), (_fake_pass(False), False)], trace=False)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert e2e["run_s"]["value"] == 2.0  # the disturbed pass is left out
    assert all(e2e[m["name"]]["unit"] == m["unit"] for m in spec["end_to_end"])
    traced = _fake_pass(True)
    traced["layers"] = run.per_layer(traced, {"candidate_pairs": 4, "verified_pairs": 1},
                                     str(tmp_path))
    pl = run.report([(traced, True), (_fake_pass(False), False)], trace=True)
    assert set(pl) == {m["name"] for m in spec["per_layer"]}
    assert all(pl[m["name"]]["unit"] == m["unit"] for m in spec["per_layer"])
    assert pl["dedup.jobs"]["value"] == 1 and pl["dedup.driver_s"]["value"] == pytest.approx(1.5)
    assert pl["dedup.verify_yield"]["value"] == 0.25


def test_tiny_run_prints_the_contract_line(tmp_path, monkeypatch, capsys):
    spec = _spec()
    monkeypatch.chdir(ROOT)
    monkeypatch.setattr(run, "WORK", str(tmp_path / "work"))
    monkeypatch.setitem(run.SIZES, "near_dedup", {"docs": 150})
    assert run.main(spec["command"][2:] + ["--workload", "near_dedup", "--seed", "3",
                                           "--seconds", "1", "--trace", "0"]) == 0
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert set(last["metrics"]) == {m["name"] for m in spec["end_to_end"]}
