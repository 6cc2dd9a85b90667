"""Shape of a document corpus as ``minhash_lsh_pairs`` sees it, computed
with numpy outside Spark: length and distinct-q-gram distributions, exact
Jaccard for every pair, and the operator's own MinHash band buckets,
candidates, gram-count prune and verified pairs.

    python3 perfbench/corpus_stats.py <documents.parquet> [--limit N]

Reads a parquet file or directory with ``doc_id`` and ``text`` columns.
The README's table comparing the generated ``docs_minhash`` corpus with
the registry's sf0.1 documents was made with it. Memory grows with the
square of the corpus size: 5,000 documents need about 1 GB.
"""

from __future__ import annotations

import argparse
import hashlib
import sys
from collections import Counter, defaultdict
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pprl_scaling_framework_spark.ops.dedup import (  # noqa: E402
    MERSENNE31, minhash_coefficients)
from workloads import DocsMinhash, qgram_jaccard  # noqa: E402


def pct(a) -> list:
    return np.percentile(a, [0, 5, 50, 95, 100]).round(1).tolist()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("path")
    ap.add_argument("--limit", type=int, help="only the first N documents")
    args = ap.parse_args()
    t = pq.read_table(args.path, columns=["doc_id", "text"])
    if args.limit:
        t = t.slice(0, args.limit)
    texts = t.column("text").to_pylist()
    n, q, wl = len(texts), DocsMinhash.Q, DocsMinhash

    words = Counter(w for s in texts for w in s.split(" "))
    total = sum(words.values())
    print(f"documents {n}, exact duplicate texts {n - len(set(texts))}")
    print(f"vocabulary {len(words)}; word shares "
          f"{min(words.values()) / total:.4f}..{max(words.values()) / total:.4f}; "
          f"least common {words.most_common()[-1]}")
    print("words per doc p0/p5/p50/p95/p100", pct([len(s.split(" ")) for s in texts]))
    print("chars per doc p0/p5/p50/p95/p100", pct([len(s) for s in texts]))

    jac, grams = qgram_jaccard(texts, q)
    ng = np.array([len(g) for g in grams])
    vocab = sorted(set().union(*grams))
    print("distinct grams per doc p0/p5/p50/p95/p100", pct(ng),
          f"; in the corpus {len(vocab)}")
    all_pairs = n * (n - 1) // 2
    passing = int(np.triu(jac >= wl.THRESHOLD, k=1).sum())
    print(f"pairs {all_pairs}; Jaccard >= {wl.THRESHOLD}: {passing} "
          f"({passing / all_pairs:.4f})")

    # the operator's signature: 56-bit md5 prefix per distinct gram, then
    # min over (a*(h % P) + b) % P per hash function; one bucket per band
    base = {g: int(hashlib.md5(g.encode()).hexdigest()[:14], 16) % MERSENNE31
            for g in vocab}
    coef = minhash_coefficients(wl.NUM_HASHES, wl.SEED)
    rows = wl.NUM_HASHES // wl.BANDS
    buckets: dict = defaultdict(list)
    for i, gs in enumerate(grams):
        h = np.array(sorted({base[g] for g in gs}), dtype=np.int64)
        sig = [int(((a * h + b) % MERSENNE31).min()) if len(h) else 0 for a, b in coef]
        for band in range(wl.BANDS):
            buckets[(band, tuple(sig[band * rows:(band + 1) * rows]))].append(i)
    sizes = np.array(sorted((len(v) for v in buckets.values()), reverse=True))
    print(f"band buckets {len(sizes)}; largest {sizes[:10].tolist()} "
          f"({sizes[0] / n:.3f} of the corpus); >= 64 members {(sizes >= 64).sum()}")

    cand = set()
    for members in buckets.values():
        m = np.array(members)
        a, b = np.triu_indices(len(m), 1)
        cand.update(zip(m[a].tolist(), m[b].tolist()))
    ca, cb = np.array(sorted(cand), dtype=np.int64).reshape(-1, 2).T
    kept = np.minimum(ng[ca], ng[cb]) >= wl.THRESHOLD * np.maximum(ng[ca], ng[cb])
    verified = int((kept & (jac[ca, cb] >= wl.THRESHOLD)).sum())
    print(f"distinct candidates {len(ca)} ({len(ca) / all_pairs:.4f} of all pairs); "
          f"after the gram-count prune {int(kept.sum())}; verified {verified} "
          f"(yield {verified / max(int(kept.sum()), 1):.3f}, "
          f"recall {verified / max(passing, 1):.3f})")
    print(f"mean gram-array length in verify "
          f"{(ng[ca[kept]] + ng[cb[kept]]).mean() / 2:.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
