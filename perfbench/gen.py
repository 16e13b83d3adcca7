"""Seeded input generators for the benchmark.

Everything here is pure Python and depends only on ``seed`` and the size
arguments, so the same seed always gives byte-identical files. The program
under test only ever sees the files these functions write.

Reviews follow FIXTURES.md F1 (several reviews per asin, ~2% rows missing a
required field, a few legacy ``review/text`` lines, some empty texts and
some texts with no dictionary adjective). Documents use a Zipfian
vocabulary with planted near-copy clusters whose true Jaccard straddles
0.8, plus exact copies.
"""

from __future__ import annotations

import itertools
import json
import random

_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"

# Standard English stopwords; disjoint from every generated word (the
# generated words are consonant-vowel syllable strings of 3+ syllables).
STOPWORDS = sorted(
    """a about above after again against all am an and any are as at be
    because been before being below between both but by could did do does
    doing down during each few for from further had has have having he her
    here hers him his how i if in into is it its itself just me more most my
    no nor not of off on once only or other our out over own same she should
    so some such than that the their them then there these they this those
    through to too under until up very was we were what when where which
    while who why will with you your""".split()
)

# Non-ASCII words both tokenizers agree on (Python ``\\w`` and Java
# ``(?U)\\w`` both treat these letters as word characters).
UNICODE_WORDS = ["café", "naïve", "über", "crème", "façade", "jalapeño"]


def _words(rng: random.Random, n: int, syllables: int, taken: set[str]) -> list[str]:
    out = []
    while len(out) < n:
        w = "".join(rng.choice(_CONS) + rng.choice(_VOWELS) for _ in range(syllables))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def _zipf_cum(n: int, s: float = 1.0) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


# --------------------------------------------------------------------------
# Reviews (paper pipeline)
# --------------------------------------------------------------------------
def reviews(seed: int, n_reviews: int, dict_size: int) -> dict:
    """Return ``{"lines": [...], "dictionary": [...], "stopwords": [...]}``.

    ``lines`` are JSON-lines review records. The dictionary has
    ``dict_size`` words; the last few never occur in any text, so the
    df=0 IDF default is exercised."""
    rng = random.Random(f"reviews:{seed}")
    taken: set[str] = set(STOPWORDS)
    dictionary = _words(rng, dict_size, 3, taken)
    used_dict = dictionary[: max(dict_size - 5, 1)]
    filler = _words(rng, 400, 3, taken)
    dict_cum = _zipf_cum(len(used_dict), 0.8)
    fill_cum = _zipf_cum(len(filler), 1.0)
    n_asins = max(n_reviews // 4, 1)
    asins = [f"B{rng.randrange(10**9):09d}" for _ in range(n_asins)]
    punct = [",", ".", "!", "?", ";", " -", ""]
    lines = []
    for _ in range(n_reviews):
        kind = rng.random()
        n_tok = rng.randint(8, 40)
        toks = []
        for _ in range(n_tok):
            r = rng.random()
            if r < 0.3:
                toks.append(rng.choice(STOPWORDS))
            elif r < 0.55:
                toks.append(rng.choices(used_dict, cum_weights=dict_cum)[0])
            elif r < 0.98:
                toks.append(rng.choices(filler, cum_weights=fill_cum)[0])
            else:
                toks.append(rng.choice(UNICODE_WORDS))
        if kind < 0.03:
            text = ""  # empty text: zero-length TF-IDF branch
        elif kind < 0.06:
            text = " ".join(t for t in toks if t not in used_dict)  # no adjectives
        else:
            text = " ".join(
                (t.capitalize() if rng.random() < 0.1 else t) + rng.choice(punct)
                for t in toks
            )
        rec = {
            "reviewerID": f"A{rng.randrange(36**8):08X}",
            "asin": rng.choice(asins),
            "reviewerName": f"user {rng.randrange(10**6)}",
            "reviewText": text,
            "overall": float(rng.randint(1, 5)),
            "unixReviewTime": 1_300_000_000 + rng.randrange(10**8),
        }
        r = rng.random()
        if r < 0.02:  # missing a required field: dropped by the ETL filter
            del rec[rng.choice(["reviewerID", "asin", "reviewerName", "reviewText"])]
        lines.append(json.dumps(rec, ensure_ascii=False))
        if r > 0.995:  # legacy-format line: dropped before parsing
            lines.append(f'{{"review/text": "{" ".join(toks[:5])}"}}')
    return {"lines": lines, "dictionary": dictionary, "stopwords": list(STOPWORDS)}


# --------------------------------------------------------------------------
# Documents (near-dedup workloads)
# --------------------------------------------------------------------------
class DocGen:
    """Zipfian documents with planted near-copy clusters.

    A near copy replaces ``q`` distinct words of its source's word set with
    words the source lacks, so its Jaccard with the source is
    ``(n - q) / (n + q)``; ``q`` is drawn so that value falls in
    [0.7, 0.95], straddling the 0.8 threshold."""

    def __init__(self, seed: int, vocab_size: int = 3000):
        self.rng = random.Random(f"docs:{seed}")
        self.vocab = _words(self.rng, vocab_size, 3, set())
        self.cum = _zipf_cum(vocab_size, 1.0)
        self.next_id = 1
        self.cluster: dict[int, int] = {}  # doc_id -> id of its planted source

    def _take_id(self, src: int | None = None) -> int:
        i = self.next_id
        self.next_id += 1
        self.cluster[i] = i if src is None else self.cluster[src]
        return i

    def fresh(self) -> tuple[int, str]:
        toks = self.rng.choices(self.vocab, cum_weights=self.cum, k=self.rng.randint(40, 90))
        return self._take_id(), " ".join(toks)

    def near_copy(self, src: tuple[int, str]) -> tuple[int, str]:
        toks = src[1].split()
        words = sorted(set(toks))
        n = len(words)
        target = self.rng.uniform(0.7, 0.95)
        q = max(1, round(n * (1 - target) / (1 + target)))
        drop = set(self.rng.sample(words, min(q, n - 1)))
        present = set(words)
        repl = {}
        for w in sorted(drop):
            while True:
                c = self.rng.choices(self.vocab, cum_weights=self.cum)[0]
                if c not in present:
                    present.add(c)
                    repl[w] = c
                    break
        out = [repl.get(t, t) for t in toks]
        self.rng.shuffle(out)
        return self._take_id(src[0]), " ".join(out)

    def exact_copy(self, src: tuple[int, str]) -> tuple[int, str]:
        # same word set; case and punctuation differ, which tokenizing ignores
        return self._take_id(src[0]), " ".join(
            (t.upper() if self.rng.random() < 0.2 else t) + ("," if self.rng.random() < 0.1 else "")
            for t in src[1].split()
        )

    def corpus(self, n_docs: int, cluster_share: float = 0.35) -> list[tuple[int, str]]:
        """``n_docs`` documents; about ``cluster_share`` of them sit in
        planted clusters (a source plus 1-4 near copies and 0-2 exact
        copies)."""
        out: list[tuple[int, str]] = []
        while len(out) < n_docs:
            src = self.fresh()
            out.append(src)
            if self.rng.random() < cluster_share / 3:
                for _ in range(self.rng.randint(1, 4)):
                    out.append(self.near_copy(src))
                for _ in range(self.rng.randint(0, 2)):
                    out.append(self.exact_copy(src))
        return out[:n_docs]

    def batch(self, size: int, pool: list[tuple[int, str]]) -> list[tuple[int, str]]:
        """An ingest batch: near copies and exact copies of documents in
        ``pool`` (the store so far, including earlier batches' survivors)
        mixed with fresh documents, some of which get a near copy inside
        the same batch."""
        out: list[tuple[int, str]] = []
        while len(out) < size:
            r = self.rng.random()
            if r < 0.35:
                out.append(self.near_copy(self.rng.choice(pool)))
            elif r < 0.45:
                out.append(self.exact_copy(self.rng.choice(pool)))
            else:
                d = self.fresh()
                out.append(d)
                if self.rng.random() < 0.1:
                    out.append(self.near_copy(d))
        return out[:size]
