"""Expected results, computed in pure Python from the generated inputs, and
the checks that compare a pass's outputs against them.

- Paper pipeline: the ETL is restated here (filters, ids in (asin,
  reviewerID, md5(reviewText)) order, tokens via ``tests/oracles.tokenize``)
  and TF-IDF and K-Means come from ``tests/oracles.tfidf_oracle`` and
  ``kmeans_oracle``, which the reference-parity ``kmeans`` matches.
- Dedup: a direct model of MinHash/LSH with the program's md5 hash family
  (16 hashes, 4 rows per band) and exact Jaccard. At tiny scale the
  self-test also checks it against the DuckDB SQL in ``plans.ORACLE``;
  that SQL's all-pairs shingle join is quadratic in the document frequency
  of common words, so it is not used at benchmark scale.

Each ``check_*`` returns ``(attempted, failures)``: one attempt per output
checked, and a message for each one that is wrong.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = ("reviewText", "reviewerID", "asin", "reviewerName")


def _oracles():
    sys.path.insert(0, ROOT)
    from tests import oracles

    return oracles


# --------------------------------------------------------------------------
# Paper pipeline
# --------------------------------------------------------------------------
def paper_expected(lines: list[str], dictionary: list[str], stopwords: list[str],
                   k: int, m: int, seed: int) -> dict:
    o = _oracles()
    recs = []
    for line in lines:
        if "review/text" in line:
            continue
        r = json.loads(line)
        if all(r.get(c) is not None for c in REQUIRED):
            recs.append(r)
    recs.sort(key=lambda r: (r["asin"], r["reviewerID"],
                             hashlib.md5(r["reviewText"].encode()).hexdigest()))
    book = {}
    for i, r in enumerate(recs, start=1):
        book[i] = {
            "reviewerID": r["reviewerID"], "asin": r["asin"],
            "reviewerName": r["reviewerName"], "reviewText": r["reviewText"],
            "adjectiveWord": o.tokenize(r["reviewText"], stopwords, dictionary),
        }
    weights = o.tfidf_oracle({i: " ".join(b["adjectiveWord"]) for i, b in book.items()})
    feats: dict[int, dict[str, float]] = {}
    for (d, w), v in weights.items():
        feats.setdefault(d, {})[w] = v
    # kmeans_oracle draws its seeds from positions 1..n; the program maps
    # the same draw onto sparse ids through their rank, so do the same
    ids = sorted(feats)
    dense = {p: feats[d] for p, d in enumerate(ids, start=1)}
    assign, cents, sse, iters, conv = o.kmeans_oracle(dense, k=k, max_iter=m, seed=seed)
    return {
        "n_docs": len(book),
        "book": {str(i): b for i, b in book.items()},
        "weights": [[d, w, v] for (d, w), v in sorted(weights.items())],
        "assign": {str(ids[p - 1]): c for p, c in assign.items()},
        "centroids": {str(c): v for c, v in cents.items()},
        "sse": {str(c): v for c, v in sse.items()},
        "iterations": iters,
        "converged": conv,
    }


def check_paper(exp: dict, info: dict, book_rows: list[dict], feat_rows: list[dict],
                cluster_rows: list[dict]) -> tuple[int, list[str]]:
    bad = []
    got_book = {
        r["id"]: {c: (list(r[c]) if c == "adjectiveWord" else r[c])
                  for c in ("reviewerID", "asin", "reviewerName", "reviewText", "adjectiveWord")}
        for r in book_rows
    }
    if info["n_docs"] != exp["n_docs"] or got_book != exp["book"]:
        bad.append("etl: review_book differs from the expected rows")
    want_w = {(d, w): v for d, w, v in exp["weights"]}
    got_w = {(r["doc_id"], r["word"]): r["weight"] for r in feat_rows}
    if got_w.keys() != want_w.keys() or any(
        abs(got_w[key] - v) > 1e-9 for key, v in want_w.items()
    ):
        bad.append("tfidf: feature weights differ from tfidf_oracle")
    ok = (
        {str(r["doc_id"]): r["cluster"] for r in cluster_rows} == exp["assign"]
        and info["iterations"] == exp["iterations"]
        and info["converged"] == exp["converged"]
        and info["centroids"].keys() == exp["centroids"].keys()
        and all(
            info["centroids"][c].keys() == v.keys()
            and all(abs(info["centroids"][c][w] - x) <= 2e-10 for w, x in v.items())
            for c, v in exp["centroids"].items()
        )
        and info["sse"].keys() == exp["sse"].keys()
        and all(math.isclose(info["sse"][c], v, rel_tol=1e-9, abs_tol=1e-12)
                for c, v in exp["sse"].items())
    )
    if not ok:
        bad.append("kmeans: assignments, centroids or SSE differ from kmeans_oracle")
    return 3, bad


# --------------------------------------------------------------------------
# MinHash/LSH model
# --------------------------------------------------------------------------
class LSHModel:
    """Shingle sets, MinHash band keys and exact Jaccard, as the program's
    dedup operators define them (md5(i || ':' || shingle), min per i,
    bands of consecutive signature rows)."""

    def __init__(self, num_hashes: int, rows_per_band: int):
        self.h = num_hashes
        self.r = rows_per_band
        self._sig: dict[str, list[str]] = {}
        self._tok = _oracles().tokenize

    def shingles(self, text: str) -> frozenset:
        return frozenset(self._tok(text))

    def bands(self, s: frozenset) -> list[tuple]:
        tabs = []
        for w in s:
            t = self._sig.get(w)
            if t is None:
                t = [hashlib.md5(f"{i}:{w}".encode()).hexdigest() for i in range(self.h)]
                self._sig[w] = t
            tabs.append(t)
        sig = [min(t[i] for t in tabs) for i in range(self.h)]
        return [(b, tuple(sig[b * self.r:(b + 1) * self.r])) for b in range(self.h // self.r)]

    @staticmethod
    def jaccard(a: frozenset, b: frozenset) -> float:
        o = len(a & b)
        return o / (len(a) + len(b) - o)

    def candidates(self, left, right=None) -> set:
        """Distinct set pairs sharing a band bucket: unordered pairs within
        ``left`` when ``right`` is None, else (left, right) pairs."""
        buckets: dict[tuple, tuple[list, list]] = {}
        for side, sets in ((0, left), (1, right or ())):
            for s in sets:
                for key in self.bands(s):
                    buckets.setdefault(key, ([], []))[side].append(s)
        out = set()
        for a_side, b_side in buckets.values():
            if right is None:
                out.update(frozenset(p) for p in itertools.combinations(a_side, 2))
            else:
                out.update((a, b) for a in a_side for b in b_side)
        return out


def _shingled(model: LSHModel, docs: list[tuple[int, str]]) -> dict[int, frozenset]:
    return {d: s for d, s in ((d, model.shingles(t)) for d, t in docs) if s}


def near_dedup_expected(docs: list[tuple[int, str]], threshold: float,
                        num_hashes: int, rows_per_band: int) -> dict:
    """Keep list of the dedup_group_keep flow: every document in a
    duplicate group, with the group's minimum doc_id."""
    model = LSHModel(num_hashes, rows_per_band)
    sets = _shingled(model, docs)
    rep: dict[frozenset, int] = {}
    for d in sorted(sets):
        rep.setdefault(sets[d], d)
    cand = model.candidates(list(rep))
    verified = [tuple(p) for p in cand if model.jaccard(*p) >= threshold]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for d, s in sets.items():
        if rep[s] != d:
            union(rep[s], d)
    for a, b in verified:
        union(rep[a], rep[b])
    keep = sorted([d, find(d)] for d in parent)
    return {"keep": keep, "candidate_pairs": len(cand), "verified_pairs": len(verified)}


def ingest_expected(corpus: list[tuple[int, str]], batches: list[list[tuple[int, str]]],
                    threshold: float, num_hashes: int, rows_per_band: int) -> dict:
    """Per-batch verdicts (batch_id, best Jaccard >= threshold against the
    store) and the final store ids, batches applied in order."""
    model = LSHModel(num_hashes, rows_per_band)
    store = _shingled(model, corpus)
    store_ids = sorted(d for d, _ in corpus)
    verdicts, n_cand, n_ver = [], 0, 0
    for batch in batches:
        bsets = _shingled(model, batch)
        cand = model.candidates(set(bsets.values()), set(store.values()))
        best: dict[frozenset, float] = {}
        for a, b in cand:
            j = model.jaccard(a, b)
            if j >= threshold:
                n_ver += 1
                best[a] = max(best.get(a, 0.0), j)
        n_cand += len(cand)
        v = sorted([d, best[s]] for d, s in bsets.items() if s in best)
        verdicts.append(v)
        dups = {d for d, _ in v}
        for d, _ in batch:
            if d not in dups:
                store_ids.append(d)
                if d in bsets:
                    store[d] = bsets[d]
    return {"verdicts": verdicts, "store_ids": sorted(store_ids),
            "candidate_pairs": n_cand, "verified_pairs": n_ver}


def check_near_dedup(exp: dict, keep_rows: list[dict]) -> tuple[int, list[str]]:
    got = sorted([r["doc_id"], r["keep_id"]] for r in keep_rows)
    return 1, ([] if got == exp["keep"] else ["dedup: keep list differs from the LSH model"])


def check_ingest(exp: dict, info: dict, store_ids: list[int]) -> tuple[int, list[str]]:
    bad = []
    for i, (got, want) in enumerate(zip(info["verdicts"], exp["verdicts"])):
        if [g[0] for g in got] != [w[0] for w in want] or any(
            abs(g[1] - w[1]) > 1e-12 for g, w in zip(got, want)
        ):
            bad.append(f"dedup: batch {i} verdicts differ from the LSH model")
    if len(info["verdicts"]) != len(exp["verdicts"]):
        bad.append("dedup: wrong number of batches vetted")
    if sorted(store_ids) != exp["store_ids"]:
        bad.append("io: final store differs from the expected survivors")
    return len(exp["verdicts"]) + 1, bad


def check_planted(keep: list[list[int]], cluster_of: dict[int, int]) -> list[str]:
    """Every output group must lie inside one planted cluster: unrelated
    Zipfian documents never reach Jaccard 0.8."""
    groups: dict[int, set] = {}
    for d, k in keep:
        groups.setdefault(k, set()).add(cluster_of.get(d, -d))
    return [f"dedup: group {k} spans planted clusters" for k, c in groups.items() if len(c) > 1]
