"""Prefix filter vs MinHash-LSH cascade, same task, same corpus: emit
every pair with exact Jaccard >= t over word shingles.

The round-5 measurements only showed the prefix filter LOSING (on the
30-word synthetic vocabulary every shingle is hot, so a frequency-
ordered prefix cannot prune — dedup.py's own docstring caveat). This
harness runs the head-to-head on any documents.parquet; pair it with
`gen_scaledata.py --zipf <sf>` for the long-tail distribution real text
has, where the rarest-first prefix is the textbook win (Bayardo et al.).

Both arms share the SAME shingle table and the SAME exact verifier
(jaccard_pairs' shared-shingle join backend — bitmap kernel disabled so
vocabulary size does not change backends between corpora):

- prefix arm: prefix_candidates(sh, t) -> exact verify. LOSSLESS
  (recall 1.0 by the prefix-filter theorem).
- LSH arm: the shipped cascade (minhash_near_dups, 16 hashes x 4-row
  bands) -> exact verify. Probabilistic recall (<1 near t).

Prints one JSON line: wall seconds per arm (best of --reps), candidate
counts, verified-pair counts, and the LSH arm's missed true pairs.

Usage: python tools/prefix_vs_lsh.py [docs_dir] [threshold] [--reps N]
Defaults: .scaling/zipf0.5 0.8 --reps 2
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv = sys.argv[1:]
    reps = 2
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]  # remove exactly the flag + its value
    pos = [a for a in argv if not a.startswith("--")]
    docs_dir = pos[0] if pos else ".scaling/zipf0.5"
    t = float(pos[1]) if len(pos) > 1 else 0.8

    from pyspark.sql import functions as F

    from skripsi_mapreduce_spark.operators.dedup import (
        jaccard_pairs,
        minhash_near_dups,
        prefix_candidates,
        shingles,
    )
    from skripsi_mapreduce_spark.session import get_spark

    spark = get_spark("prefix-vs-lsh")
    df = spark.read.parquet(os.path.join(docs_dir, "documents.parquet")).localCheckpoint()
    n_docs = df.count()

    def prefix_arm():
        sh = shingles(df).localCheckpoint(eager=False)
        cands = prefix_candidates(sh, t)
        out = jaccard_pairs(sh, cands, bitmap_max_vocab=0, min_jaccard=t).filter(
            F.col("jaccard") >= t
        )
        return out.count(), cands.count()

    def lsh_arm():
        out = minhash_near_dups(df, threshold=t)
        return out.count(), None

    results = {}
    for name, arm in (("prefix", prefix_arm), ("lsh_cascade", lsh_arm)):
        best, pairs, cands = float("inf"), None, None
        for _ in range(reps):
            t0 = time.time()
            pairs, cands = arm()
            best = min(best, time.time() - t0)
        results[name] = {"wall_s": round(best, 3), "pairs": pairs, "cands": cands}

    # recall audit: pairs the lossless prefix arm found that LSH missed
    sh = shingles(df).localCheckpoint(eager=False)
    truth = jaccard_pairs(
        sh, prefix_candidates(sh, t), bitmap_max_vocab=0, min_jaccard=t
    ).filter(F.col("jaccard") >= t)
    lsh = minhash_near_dups(df, threshold=t)
    missed = truth.join(lsh.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti").count()
    results["n_docs"] = n_docs
    results["threshold"] = t
    results["lsh_missed_true_pairs"] = missed
    print(json.dumps(results))


if __name__ == "__main__":
    main()
