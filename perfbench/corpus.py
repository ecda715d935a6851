"""Seeded document batches with planted defects, and embedding batches
with planted near-duplicate clusters, for corpus_curation.

Every planted defect has exactly one right answer:

- quality junk (too few words) fails the Gopher gate;
- an exact copy differs from its source only in case and one space
  turned into a tab, and
  has the higher id, so exact dedup keeps the source;
- a near copy is its source plus one appended word (3-gram Jaccard
  about 0.99, so a 4-band MinHash misses it with odds below 1e-6), with
  the higher id, so near dedup keeps the source;
- a contaminated document carries an 8-word passage of a benchmark
  document. Benchmark words all contain a 'z' and corpus words never
  do, so no clean document shares a 5-gram with the benchmark set;
- an embedding cluster is a base vector and copies at cosine ≥ 0.9999.

What survives a correct pass is exactly the set of base documents.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BATCH_DOCS = 600
SHARE_JUNK = 0.04
SHARE_EXACT = 0.05
SHARE_NEAR = 0.05
SHARE_CONTAM = 0.03
BENCH_DOCS = 40
EMB_ROWS = 600
EMB_DIM = 64
SHARE_EMB_CLUSTERED = 0.10  # vectors inside clusters of 3
STOPWORDS = ["the", "of", "and", "to", "that", "with", "have", "be"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxy"))  # no 'z'


def _vocab(rng, n: int, must: str | None = None) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(LETTERS, int(rng.integers(3, 9))))
        if must:
            pos = int(rng.integers(len(w) + 1))
            w = w[:pos] + must + w[pos:]
        words.add(w)
    return sorted(words)


class CorpusGen:
    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 2])
        self.seed = seed
        self.vocab = np.array(_vocab(rng, 800) + STOPWORDS * 12)
        self.bench_vocab = np.array(_vocab(rng, 300, must="z"))
        self.bench = [
            " ".join(rng.choice(self.bench_vocab, 30)) for _ in range(BENCH_DOCS)
        ]

    def _doc(self, rng, n_words: int) -> str:
        words = rng.choice(self.vocab, n_words).tolist()
        a, b = rng.choice(n_words, 2, replace=False)  # the Gopher gate
        words[a], words[b] = "the", "of"  # needs two stopword hits
        return " ".join(words)

    def batch(self, index: int, first_id: int, n: int = BATCH_DOCS) -> dict:
        """Documents of one batch and the ids each check expects."""
        rng = np.random.default_rng([self.seed, 3, index])
        n_junk, n_exact = int(n * SHARE_JUNK), int(n * SHARE_EXACT)
        n_near, n_contam = int(n * SHARE_NEAR), int(n * SHARE_CONTAM)
        n_base = n - n_junk - n_exact - n_near - n_contam
        texts = [self._doc(rng, int(rng.integers(60, 140))) for _ in range(n_base)]
        sources = rng.choice(n_base, n_exact + n_near, replace=False)
        for s in sources[:n_exact]:
            words = texts[s].split(" ")
            for k in rng.choice(len(words), 3, replace=False):
                words[k] = words[k].upper()
            k = int(rng.integers(1, len(words)))
            texts.append(" ".join(words[:k]) + "\t" + " ".join(words[k:]))
        for s in sources[n_exact:]:
            texts.append(texts[s] + " " + str(rng.choice(self.vocab)))
        for _ in range(n_contam):
            words = self._doc(rng, int(rng.integers(60, 120))).split(" ")
            passage = self.bench[int(rng.integers(BENCH_DOCS))].split(" ")
            at = int(rng.integers(len(passage) - 8))
            cut = int(rng.integers(len(words)))
            texts.append(" ".join(words[:cut] + passage[at:at + 8] + words[cut:]))
        for _ in range(n_junk):
            texts.append(self._doc(rng, int(rng.integers(10, 40))))
        ids = np.arange(first_id, first_id + len(texts), dtype=np.int64)
        return {
            "doc_id": ids,
            "text": texts,
            "base": set(ids[:n_base].tolist()),
            "n_base": n_base,
        }

    def embeddings(self, index: int, first_id: int, n: int = EMB_ROWS) -> dict:
        rng = np.random.default_rng([self.seed, 4, index])
        n_clusters = int(n * SHARE_EMB_CLUSTERED) // 3
        vecs = rng.standard_normal((n, EMB_DIM))
        pairs = set()
        for c in range(n_clusters):
            base = 3 * c
            for j in (1, 2):
                while True:
                    v = vecs[base] + rng.standard_normal(EMB_DIM) * 0.004 * np.linalg.norm(
                        vecs[base]) / np.sqrt(EMB_DIM)
                    if _cos(v.astype(np.float32), vecs[base].astype(np.float32)) >= 0.9999:
                        break
                vecs[base + j] = v
        vecs = vecs.astype(np.float32)
        ids = np.arange(first_id, first_id + n, dtype=np.int64)
        for c in range(n_clusters):
            a, b, d = ids[3 * c: 3 * c + 3]
            pairs |= {(int(a), int(b)), (int(a), int(d)), (int(b), int(d))}
        return {"vec_id": ids, "embedding": vecs, "pairs": pairs}


def _cos(a: np.ndarray, b: np.ndarray) -> float:
    a, b = a.astype(np.float64), b.astype(np.float64)
    return float(a @ b / np.sqrt((a @ a) * (b @ b)))


def write_batch(docs: dict, emb: dict, out_dir) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": docs["text"],
    }), f"{out_dir}/documents.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(emb["vec_id"], pa.int64()),
        "embedding": pa.array(list(emb["embedding"]), pa.list_(pa.float32())),
    }), f"{out_dir}/embeddings.parquet")


def write_bench(gen: CorpusGen, out_dir) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(len(gen.bench)), pa.int64()),
        "text": gen.bench,
    }), f"{out_dir}/benchmarks.parquet")
