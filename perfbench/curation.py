"""corpus_curation: back-to-back curation passes, each over a freshly
seeded batch of documents and embeddings plus the run's media blobs.

One pass: Gopher quality gate → exact dedup → MinHash-LSH candidates →
exact Jaccard verification → connected components → decontamination →
BPE token counts (model learned in set-up) → embedding near-duplicate
pairs → training-shard export → media decode and featurize
(``media.py``). ``operators/``, ``functions/text`` and the codecs in
``functions/`` do the work; the dialect does none.
"""

from __future__ import annotations

import time

import numpy as np

from harness import Workload, median, span_median
from corpus import BATCH_DOCS, EMB_ROWS, CorpusGen, write_batch, write_bench
from media import MediaSet

STAGES = (
    "text.quality", "dedup.exact", "dedup.minhash", "dedup.verify",
    "dedup.cluster", "pipeline.decontaminate", "bpe.encode",
    "similarity.neardup", "export.shards",
)
BPE_MERGES = 100
SHARD_ROWS = 200
WARMUP_DOCS = 60  # warm-up batch: same plans, a tenth of the data


class CorpusCuration(Workload):
    latency_kind = "pass"
    item = f"documents ({BATCH_DOCS}-document batches with media)"

    def generate(self) -> None:
        self.gen = CorpusGen(self.ctx.seed)
        self.root = self.ctx.work / "corpus"
        self.root.mkdir()
        write_bench(self.gen, self.root)
        self.expect: dict[int, dict] = {}
        self.outcome: dict[int, dict] = {}
        self.media = MediaSet(self.ctx.seed, self.ctx.work)
        self._write(-1)  # the set-up batch the BPE model learns from
        self._write(-2, WARMUP_DOCS)

    def _write(self, i: int, n: int = BATCH_DOCS) -> None:
        d = self.root / f"batch{i + 1}"
        d.mkdir()
        docs = self.gen.batch(i + 2, first_id=(i + 2) * 10 * BATCH_DOCS, n=n)
        emb = self.gen.embeddings(i + 2, first_id=(i + 2) * 10 * EMB_ROWS, n=n)
        write_batch(docs, emb, d)
        self.expect[i] = {"base": docs["base"], "pairs": emb["pairs"],
                          "emb": dict(zip(emb["vec_id"].tolist(), emb["embedding"]))}

    def _load(self, i: int):
        from kaj_query_engine_spark.catalog import load_fixture_catalog

        cat = load_fixture_catalog(self.spark, str(self.root / f"batch{i + 1}"))
        return cat.table("documents"), cat.table("embeddings")

    def prepare(self) -> None:
        t = time.perf_counter()
        self.setup_docs, _ = self._load(-1)
        self.bench = self.spark.read.parquet(str(self.root / "benchmarks.parquet"))
        self.load_times_ms.append((time.perf_counter() - t) * 1e3)

    def warmup(self) -> None:
        """One-time builds (BPE model, cached benchmark set and media),
        then a pass over a small batch: the same plans and codecs as a
        full pass, so JIT, codegen and Python workers are warm."""
        from kaj_query_engine_spark.operators.bpe import learn_bpe, piece_frequencies

        self.bench = self.bench.persist()
        self.bench.count()
        self.media.load(self.spark)
        self.model = learn_bpe(piece_frequencies(self.setup_docs, "text"),
                               num_merges=BPE_MERGES)
        res = self._pass(-2, self.ctx.notrace)
        if not self.record(-2, res):
            raise RuntimeError("the warm-up pass gave wrong results")

    def before(self, i: int) -> None:
        self._write(i)

    def op(self, i: int, tr):
        return "pass", BATCH_DOCS, self._pass(i, tr)

    def _pass(self, i: int, tr) -> dict:
        from pyspark.sql import functions as F

        from kaj_query_engine_spark.functions.text import gopher_ok_of, tokens
        from kaj_query_engine_spark.operators import bpe, dedup, pipeline, similarity
        from kaj_query_engine_spark.sources.export import write_training_shards

        docs, emb = self._load(i)
        cached = []

        def stage(name, build, execute):
            with tr.span(f"{name}.build", jobs=True):
                df = build()
            with tr.span(f"{name}.exec", jobs=True):
                out = execute(df)
            return df, out

        def keep(df):
            df = df.persist()
            cached.append(df)
            return df.count()

        gated, _ = stage(
            "text.quality",
            lambda: docs.select("doc_id", "text", tokens(F.col("text")).alias("_t"))
            .filter(gopher_ok_of(F.col("_t"))).drop("_t"),
            keep)
        exact, _ = stage(
            "dedup.exact",
            lambda: gated.join(
                dedup.exact_duplicates(gated, "doc_id", "text")
                .select(F.col("keep_id").alias("doc_id")), "doc_id", "semi"),
            keep)
        cand, n_cand = stage(
            "dedup.minhash",
            lambda: dedup.minhash_lsh_candidates(exact, "doc_id", "text"), keep)
        pairs, n_pairs = stage(
            "dedup.verify",
            lambda: dedup.verify_candidate_pairs(exact, cand, "doc_id", "text"), keep)
        neared, _ = stage(
            "dedup.cluster",
            lambda: exact.join(
                dedup.cluster_duplicates(pairs).filter(F.col("id") != F.col("cluster"))
                .select(F.col("id").alias("doc_id")), "doc_id", "left_anti"),
            keep)
        clean, _ = stage(
            "pipeline.decontaminate",
            lambda: neared.join(
                pipeline.decontaminate(neared, self.bench, "doc_id", "text")
                .select(F.col("id").alias("doc_id")), "doc_id", "left_anti"),
            keep)
        counts, _ = stage(
            "bpe.encode",
            lambda: bpe.encode_token_counts(clean, "doc_id", "text", self.model), keep)
        _, emb_pairs = stage(
            "similarity.neardup",
            lambda: similarity.embedding_neardup_pairs(emb, "vec_id", "embedding"),
            lambda df: df.collect())
        out_dir = self.root / f"shards{i + 1}"
        _, manifest = stage(
            "export.shards",
            lambda: write_training_shards(
                clean.join(counts, "doc_id"), str(out_dir), SHARD_ROWS,
                token_col="n_bpe_tokens"),
            lambda df: df.agg(F.sum("n_rows"), F.sum("n_tokens")).collect()[0])
        for df in cached:
            df.unpersist()
        t = time.perf_counter()
        media = self.media.run(tr)
        return {"n_cand": n_cand, "n_pairs": n_pairs, "out_dir": out_dir,
                "emb_pairs": [(r.i, r.j, r.cos) for r in emb_pairs],
                "rows": manifest[0], "tokens": manifest[1],
                "media": media, "media_s": time.perf_counter() - t}

    def record(self, i: int, res: dict) -> bool:
        import pyarrow.dataset as ds

        exp = self.expect.pop(i)
        files = [str(p) for p in res["out_dir"].glob("*.parquet")]
        got = ds.dataset(files).to_table(columns=["doc_id"]).column(0).to_pylist()
        found = {(min(a, b), max(a, b)) for a, b, _ in res["emb_pairs"]}
        emb = exp["emb"]
        checks = {
            "survivors": set(got) == exp["base"] and len(got) == len(exp["base"]),
            "manifest_rows": res["rows"] == len(exp["base"]),
            "tokens": (res["tokens"] or 0) > 0,
            "embedding_clusters_found": exp["pairs"] <= found,
            "embedding_pairs_above_threshold": all(
                _cos(emb[a], emb[b]) >= 0.45 - 1e-6 for a, b in found),
            "media_features": not self.media.check(res["media"]),
        }
        self.outcome[i] = {**res, "checks": checks, "emb_ids": emb}
        bad = [k for k, ok in checks.items() if not ok]
        if bad:
            print(f"# pass {i} failed checks: {bad}")
        return not bad

    def verify(self, run: dict) -> tuple[int, int]:
        """Once per run: every decoded media buffer against its source."""
        return len(run["ops"]) + 1, run["failed"] + (self.media.verify() > 0)

    def report(self, run: dict) -> dict:
        ops = [o for o in run["ops"] if o["ok"] and not o["traced"]] or \
              [o for o in run["ops"] if o["ok"]]
        ms = sum(o["ms"] for o in ops)
        media_s = sum(self.outcome[o["i"]]["media_s"] for o in ops)
        self.media_mb_per_s = self.media.mb * len(ops) / media_s if media_s else 0.0
        return {
            "docs_per_s": (round(sum(o["items"] for o in ops) / (ms / 1e3), 4)
                           if ms else 0.0, f"docs/s at {BATCH_DOCS} docs/batch"),
            "media_mb_per_s": (round(self.media_mb_per_s, 4), "MB/s of compressed media"),
            "batch_shares": ("junk 4%, exact 5%, near 5%, contaminated 3%, "
                             "embedding clusters 10%", ""),
            "media": (self.media.describe(), ""),
        }

    def layer_metrics(self, tracer) -> dict:
        tracer.resolve_jobs()
        out = {}
        for s in STAGES:
            out[f"{s}.build_ms"] = span_median(tracer, f"{s}.build")
            out[f"{s}.build_jobs"] = span_median(tracer, f"{s}.build", "jobs")
            out[f"{s}.exec_ms"] = span_median(tracer, f"{s}.exec")
            out[f"{s}.jobs"] = span_median(tracer, f"{s}.exec", "jobs")
        traced_ops = {sp.op for sp in tracer.spans}
        passes = [r for i, r in self.outcome.items() if i in traced_ops]
        out["dedup.minhash.candidate_precision"] = median(
            [r["n_pairs"] / r["n_cand"] for r in passes if r["n_cand"]])
        out["similarity.neardup.candidate_precision"] = median(
            [len(r["emb_pairs"]) / _lsh_candidates(r["emb_ids"]) for r in passes])
        out["multimodal.media_mb_per_s"] = self.media_mb_per_s  # set by report()
        return out | self.media.layer_metrics(tracer)


def _cos(a, b) -> float:
    a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
    return float(a @ b / np.sqrt((a @ a) * (b @ b)))


def _lsh_candidates(vectors: dict) -> int:
    """Distinct pairs sharing a sign-LSH bucket in any band, with the
    operator's own hyperplanes and banding rule — the candidate set
    ``embedding_neardup_pairs`` scores."""
    from kaj_query_engine_spark.operators.similarity import (
        NEARDUP_BANDS, auto_rows_per_band, band_hyperplanes)

    ids = np.array(list(vectors))
    m = np.stack([np.asarray(vectors[k], np.float64) for k in ids])
    rows = auto_rows_per_band(len(ids))
    pairs = set()
    for planes in band_hyperplanes(NEARDUP_BANDS, rows, dim=m.shape[1]):
        bits = (m @ np.asarray(planes, np.float64).T > 0).astype(np.int64)
        keys = bits @ (1 << np.arange(bits.shape[1]))
        for key in np.unique(keys):
            members = np.sort(ids[keys == key])
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    pairs.add((int(members[x]), int(members[y])))
    return max(1, len(pairs))
