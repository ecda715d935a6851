"""Unit tests for the dedup and similarity operator families —
hand-checkable examples (exact Jaccard values, numpy-verified cosine)
that the fixture-scale oracle diff can't pin down."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kaj_query_engine_spark.operators import dedup as D
from kaj_query_engine_spark.operators import similarity as S
from tests.conftest import SF_DIR, count_jobs


@pytest.fixture()
def docs(spark):
    def make(rows):
        return spark.createDataFrame(rows, "id long, text string")

    return make


def test_exact_duplicates_normalizes_case_and_space(spark, docs):
    df = docs(
        [
            (1, "Hello  World"),
            (2, "hello world"),  # same after casefold+space-collapse
            (3, "something else"),
        ]
    )
    out = D.exact_duplicates(df, "id", "text").collect()
    groups = {r.keep_id: r.n for r in out}
    assert groups == {1: 2, 3: 1}


def test_minhash_identical_docs_always_candidates(spark, docs):
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = docs([(1, text), (2, text), (3, "entirely different words here now")])
    pairs = {(r.d1, r.d2) for r in D.minhash_lsh_candidates(df, "id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_bucket_cap_drops_junk_clusters(spark, docs):
    """A bucket wider than max_bucket is boilerplate: none of its
    C(w,2) pairs are emitted, while narrow buckets are unaffected."""
    junk = "same boilerplate header text repeated in every single file"
    df = docs([(i, junk) for i in range(6)] + [(10, "x y z w"), (11, "x y z w")])
    capped = {
        (r.d1, r.d2)
        for r in D.minhash_lsh_candidates(df, "id", "text", max_bucket=4).collect()
    }
    assert capped == {(10, 11)}  # junk sextet gone, real pair kept
    uncapped = {
        (r.d1, r.d2)
        for r in D.minhash_lsh_candidates(df, "id", "text", max_bucket=None).collect()
    }
    assert (10, 11) in uncapped and len(uncapped) == 15 + 1


def _incr_vs_full(spark, df, split):
    """Incremental candidates (index over old + batch of new) must
    equal the full-corpus candidate set restricted to pairs involving
    a new doc — the definitional contract of the incremental path."""
    old = df.filter(~split(F.col("id")))
    new = df.filter(split(F.col("id")))
    index = D.band_bucket_index(old, "id", "text")
    incr = {
        (r.d1, r.d2)
        for r in D.incremental_lsh_candidates(index, new, "id", "text").collect()
    }
    new_ids = {r.id for r in new.select("id").collect()}
    full = {
        (r.d1, r.d2)
        for r in D.minhash_lsh_candidates(df, "id", "text").collect()
        if r.d1 in new_ids or r.d2 in new_ids
    }
    return incr, full


def test_incremental_candidates_match_full_run(spark, docs):
    # near-dup families straddling the old/new split, plus noise docs
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = []
    for i in range(30):
        if i % 3 == 0:
            rows.append((i, base + f" variant"))
        elif i % 3 == 1:
            rows.append((i, base + " another tail phrase here"))
        else:
            rows.append((i, f"unrelated document number {i} with its own words {i * 7}"))
    df = docs(rows)
    incr, full = _incr_vs_full(spark, df, lambda c: c % 5 == 0)
    assert incr == full and incr  # non-trivial and identical


def test_incremental_candidates_match_full_on_fixture(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.col("doc_id").alias("id"), "text")
    )
    incr, full = _incr_vs_full(spark, df, lambda c: c % 5 == 0)
    assert incr == full


def test_incremental_tombstones_keep_junk_cap_exact(spark, docs):
    # 70 identical old docs (> MAX_BUCKET=64): the full run drops the
    # bucket entirely, so two new copies of the same text must produce
    # NO pairs — only the tombstone row (ids nulled, width kept) lets
    # the incremental path see that the bucket is junk
    junk = [(i, "boilerplate licence header text repeated verbatim") for i in range(70)]
    old = docs(junk)
    new = docs([(100, junk[0][1]), (101, junk[0][1])])
    index = D.band_bucket_index(old, "id", "text")
    tomb = index.filter(F.col("ids").isNull())
    assert tomb.count() > 0 and tomb.agg(F.max("w")).collect()[0][0] == 70
    incr = D.incremental_lsh_candidates(index, new, "id", "text")
    assert incr.count() == 0
    # a tombstone stays dead even when its recorded width sits under
    # the cap: the ids were discarded at capping, nothing can revive it
    shrunk = index.withColumn(
        "w",
        F.when(F.col("ids").isNull(), F.lit(D.MAX_BUCKET - 4)).otherwise(
            F.col("w")
        ),
    )
    assert D.incremental_lsh_candidates(shrunk, new, "id", "text").count() == 0
    # sanity: the same two new docs against a small clean corpus pair up
    clean_index = D.band_bucket_index(docs([(0, junk[0][1])]), "id", "text")
    assert (
        D.incremental_lsh_candidates(clean_index, new, "id", "text").count() == 3
    )  # (0,100), (0,101), (100,101)


def test_incremental_cap_counts_combined_width(spark, docs):
    # old bucket exactly at the cap: adding ONE new member pushes the
    # combined width over MAX_BUCKET, so no pairs may be emitted even
    # though the corpus-side bucket still stores its ids
    text = "shared near duplicate content for the capped bucket case"
    old = docs([(i, text) for i in range(D.MAX_BUCKET)])
    index = D.band_bucket_index(old, "id", "text")
    assert index.filter(F.col("ids").isNull()).count() == 0
    incr = D.incremental_lsh_candidates(index, docs([(500, text)]), "id", "text")
    assert incr.count() == 0
    # one fewer old member -> combined width == cap -> pairs flow
    index2 = D.band_bucket_index(docs([(i, text) for i in range(D.MAX_BUCKET - 1)]), "id", "text")
    incr2 = D.incremental_lsh_candidates(index2, docs([(500, text)]), "id", "text")
    assert incr2.count() == D.MAX_BUCKET - 1


def _index_as_set(df):
    return {
        (r.band, r.key, tuple(r.ids) if r.ids is not None else None, r.w)
        for r in df.collect()
    }


def test_merge_band_index_equals_rebuild(spark, docs):
    # mixed case: shared buckets, batch-only buckets, a bucket pushed
    # over the cap by the merge, and an already-tombstoned bucket
    junk = "junk bucket boilerplate text repeated everywhere verbatim"
    near = "the quick brown fox jumps over the lazy dog tonight"
    old_rows = (
        [(i, junk) for i in range(70)]  # tombstoned at build
        + [(100 + i, near) for i in range(D.MAX_BUCKET - 1)]  # at cap-1
        + [(500, "a unique old document all by itself here")]
    )
    new_rows = [
        (1000, junk),  # lands in the tombstone: must stay dead
        (1001, near),  # pushes the near bucket to exactly the cap
        (1002, near),  # ...and this one past it -> tombstone
        (1003, "an entirely new topic never seen before"),
    ]
    old, new = docs(old_rows), docs(new_rows)
    merged = D.merge_band_index(
        D.band_bucket_index(old, "id", "text"), new, "id", "text"
    )
    rebuilt = D.band_bucket_index(old.unionByName(new), "id", "text")
    assert _index_as_set(merged) == _index_as_set(rebuilt)
    # and the merged index serves the next batch identically to a
    # rebuilt one (closing the ingest loop)
    probe = docs([(2000, near), (2001, "another new topic")])
    got_m = D.incremental_lsh_candidates(merged, probe, "id", "text")
    got_r = D.incremental_lsh_candidates(rebuilt, probe, "id", "text")
    assert {(r.d1, r.d2) for r in got_m.collect()} == {
        (r.d1, r.d2) for r in got_r.collect()
    }


def test_merge_band_index_equals_rebuild_on_fixture(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.col("doc_id").alias("id"), "text")
    )
    old = df.filter(F.col("id") % 5 != 0)
    new = df.filter(F.col("id") % 5 == 0)
    merged = D.merge_band_index(
        D.band_bucket_index(old, "id", "text"), new, "id", "text"
    )
    rebuilt = D.band_bucket_index(df, "id", "text")
    assert _index_as_set(merged) == _index_as_set(rebuilt)


def test_minhash_signature_is_order_insensitive_set_hash(spark, docs):
    # signatures depend on the shingle SET → duplicated shingles don't change them
    t1 = "a b c d e f"
    t2 = "a b c d e f a b c d e f"  # same 3-shingles, repeated
    df = docs([(1, t1), (2, t2)])
    sigs = {r.id: [r[f"s{k}"] for k in range(D.NUM_HASHES)] for r in
            D.minhash_signatures(df, "id", "text").collect()}
    # t2 has extra shingles spanning the seam ("e f a" etc.), so only
    # check: every t1 minhash >= t2's (t2's shingle set is a superset)
    assert all(sigs[1][k] >= sigs[2][k] for k in range(D.NUM_HASHES))


def test_ngram_jaccard_exact_value(spark, docs):
    # doc1 shingles: {a b c, b c d} ; doc2: {a b c, b c x}
    # intersection 1, union 3 → jaccard = 1/3
    df = docs([(1, "a b c d"), (2, "a b c x")])
    out = D.ngram_jaccard_pairs(df, "id", "text", n=3, threshold=0.0).collect()
    assert len(out) == 1
    assert abs(out[0].jaccard - 1 / 3) < 1e-12


def test_ngram_jaccard_df_budget_tripwire(spark, docs):
    """A shingle shared by more docs than df_budget must FAIL the job
    (executor-side raise_error) with a pointer to the scale path —
    the guard that keeps the Σ|bucket|² verifier off huge corpora."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    # 4 docs all sharing the shingle "a b c" → its df = 4 > budget 3
    df = docs([(i, f"a b c tail{i}") for i in range(4)])
    with pytest.raises(SparkRuntimeException, match="verify_candidate_pairs"):
        D.ngram_jaccard_pairs(df, "id", "text", df_budget=3).collect()
    # under budget: runs clean and exact values are unchanged
    out = D.ngram_jaccard_pairs(df, "id", "text", df_budget=4, threshold=0.0)
    assert out.count() == 6  # all C(4,2) pairs share "a b c"


def test_ngram_jaccard_max_df_cut_semantics(spark, docs):
    """max_df drops over-frequent shingles from the UNIVERSE (both
    common and n_sh): Jaccard is computed over the reduced vocabulary,
    and the tripwire is subsumed (no raise even over budget)."""
    # "a b c" has df=3; each doc has one private shingle besides it.
    # doc1: {a b c, b c d1}  doc2: {a b c, b c d2}  doc3: {a b c, b c d3}
    df = docs([(1, "a b c d1"), (2, "a b c d2"), (3, "a b c d3")])
    # uncapped: every pair shares exactly "a b c" → jaccard = 1/3
    full = D.ngram_jaccard_pairs(df, "id", "text", threshold=0.0).collect()
    assert len(full) == 3 and all(abs(r.jaccard - 1 / 3) < 1e-12 for r in full)
    # max_df=2 removes "a b c" (df=3): no shared shingles remain, and
    # df_budget=1 would have tripped — max_df must disable it
    capped = D.ngram_jaccard_pairs(
        df, "id", "text", threshold=0.0, max_df=2, df_budget=1
    ).collect()
    assert capped == []
    # max_df=3 keeps it; the private shingles (df=1) also stay
    kept = D.ngram_jaccard_pairs(
        df, "id", "text", threshold=0.0, max_df=3
    ).collect()
    assert len(kept) == 3 and all(abs(r.jaccard - 1 / 3) < 1e-12 for r in kept)


def test_simhash_identical_same_fingerprint(spark, docs):
    df = docs([(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zzz qqq")])
    fp = {r.id: r.simhash for r in D.simhash_fingerprints(df, "id", "text").collect()}
    assert fp[1] == fp[2]
    assert len(fp[1]) == 32 and set(fp[1]) <= {"0", "1"}
    assert fp[1] != fp[3]


def test_cluster_duplicates_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter forces >1 propagation round) + pair (10,11)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "d1 long, d2 long"
    )
    out = {r.id: r.cluster for r in D.cluster_duplicates(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_duplicates_long_chain_converges_logarithmically(spark):
    """A 64-node path has diameter 63: plain min-propagation needs 63
    rounds, pointer doubling must finish well inside 12."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "d1 long, d2 long"
    )
    out = {
        r.id: r.cluster
        for r in D.cluster_duplicates(pairs, max_iters=12).collect()
    }
    assert set(out) == set(range(64))
    assert set(out.values()) == {0}


# ------------------------------------------------------------------
# similarity
# ------------------------------------------------------------------


@pytest.fixture()
def vectors(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(30, 8).astype("float64")
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, vecs


def test_brute_force_topk_matches_numpy(spark, vectors):
    df, vecs = vectors
    queries = df.filter(F.col("vec_id") < 3)
    out = S.brute_force_topk(df, queries, k=5).collect()
    norms = np.linalg.norm(vecs, axis=1)
    for q in range(3):
        cos = vecs @ vecs[q] / (norms * norms[q])
        cos[q] = -np.inf  # self excluded
        expected = np.argsort(-cos, kind="stable")[:5]
        got = sorted(
            [r for r in out if r.q_id == q], key=lambda r: r.rank
        )
        assert [r.vec_id for r in got] == [int(i) for i in expected]
        for r in got:
            assert math.isclose(r.cos, round(float(cos[r.vec_id]), 6), abs_tol=1e-6)


def test_lsh_topk_is_exact_within_bucket(spark, vectors):
    df, vecs = vectors
    queries = df.filter(F.col("vec_id") < 3)
    lsh = S.lsh_topk(df, queries, k=5)
    brute = S.brute_force_topk(df, queries, k=1000)
    exact = {(r.q_id, r.vec_id): r.cos for r in brute.collect()}
    for r in lsh.collect():
        # every LSH result's cosine equals the exact cosine (LSH only
        # restricts the candidate set, never changes scores)
        assert math.isclose(r.cos, exact[(r.q_id, r.vec_id)], abs_tol=1e-6)


def test_lsh_topk_adaptive_planes_and_multiprobe(spark, vectors):
    """planes=None sizes the hash table from the corpus count; every
    emitted neighbor's cosine is still the exact cosine, and multi-probe
    only widens the candidate set (single-bucket results ⊆ probed)."""
    df, _ = vectors
    queries = df.filter(F.col("vec_id") < 3)
    # N=30, target 4 → planes = ceil(log2(7.5)) = 3
    probed = S.lsh_topk(df, queries, k=5, target_bucket=4, dim=8)
    brute = {
        (r.q_id, r.vec_id): r.cos
        for r in S.brute_force_topk(df, queries, k=1000).collect()
    }
    probed_rows = probed.collect()
    assert len(probed_rows) > 0
    for r in probed_rows:
        assert math.isclose(r.cos, brute[(r.q_id, r.vec_id)], abs_tol=1e-6)
    single = S.lsh_topk(
        df, queries, k=5, target_bucket=4, multiprobe=False, dim=8
    ).collect()
    # multi-probe recall dominates single-bucket recall per query
    per_q_probed = {q: sum(1 for r in probed_rows if r.q_id == q) for q in range(3)}
    for q in range(3):
        assert sum(1 for r in single if r.q_id == q) <= per_q_probed[q]


def test_ivf_topk_single_list_is_exact(spark, vectors):
    """With one centroid every vector lands in the same inverted list,
    so IVF degenerates to the brute-force result exactly."""
    df, _ = vectors
    queries = df.filter(F.col("vec_id") < 3)
    ivf = S.ivf_query(
        *S.ivf_build(df, n_centroids=1), queries, k=5, nprobe=1
    ).collect()
    brute = S.brute_force_topk(df, queries, k=5).collect()
    key = lambda r: (r.q_id, r.rank)
    assert sorted([(r.q_id, r.rank, r.vec_id) for r in ivf]) == sorted(
        [(r.q_id, r.rank, r.vec_id) for r in brute]
    )
    bcos = {key(r): r.cos for r in brute}
    for r in ivf:
        assert math.isclose(r.cos, bcos[key(r)], abs_tol=1e-9)


def test_ivf_topk_scores_are_exact_and_recall_reasonable(spark, vectors):
    """IVF only restricts candidates — every emitted cosine equals the
    exact cosine, and probing half the lists recovers most of the
    true top-5."""
    df, _ = vectors
    queries = df.filter(F.col("vec_id") < 3)
    ivf = S.ivf_query(
        *S.ivf_build(df, n_centroids=6), queries, k=5, nprobe=3
    ).collect()
    brute = S.brute_force_topk(df, queries, k=1000)
    exact = {(r.q_id, r.vec_id): r.cos for r in brute.collect()}
    true5 = {
        q: {r.vec_id for r in brute.collect() if r.q_id == q and r.rank <= 5}
        for q in range(3)
    }
    hits = 0
    for r in ivf:
        assert math.isclose(r.cos, exact[(r.q_id, r.vec_id)], abs_tol=1e-6)
        hits += r.vec_id in true5[r.q_id]
    assert hits >= 8  # recall@5 >= ~0.53 over 3 queries, deterministic


def test_ivf_topk_auto_sizing(spark, vectors):
    """n_centroids=None sizes the quantizer from the corpus count
    (sqrt-N) and still returns well-formed exact-scored rows."""
    df, _ = vectors
    queries = df.filter(F.col("vec_id") < 2)
    out = S.ivf_query(*S.ivf_build(df), queries, k=3).collect()
    assert len(out) > 0
    exact = {
        (r.q_id, r.vec_id): r.cos
        for r in S.brute_force_topk(df, queries, k=1000).collect()
    }
    for r in out:
        assert r.rank <= 3
        assert math.isclose(r.cos, exact[(r.q_id, r.vec_id)], abs_tol=1e-6)


def test_ivf_build_fast_agrees_and_serves_queries(spark, vectors):
    """The Arrow/numpy matmul build must (a) produce the same
    inverted-list assignment as the oracle-checked left-fold build on
    the test vectors and (b) back ivf_query with exact cosines."""
    df, _ = vectors
    c1, a1 = S.ivf_build(df, n_centroids=6)
    c2, a2 = S.ivf_build_fast(df, n_centroids=6)
    j = a1.select("vec_id", "cid").join(
        a2.select("vec_id", F.col("cid").alias("cid2")), "vec_id"
    )
    rows = j.collect()
    assert len(rows) == df.count()
    assert all(r.cid == r.cid2 for r in rows)
    queries = df.filter(F.col("vec_id") < 2)
    out = S.ivf_query(c2, a2, queries, k=3, nprobe=3).collect()
    assert len(out) > 0
    exact = {
        (r.q_id, r.vec_id): r.cos
        for r in S.brute_force_topk(df, queries, k=1000).collect()
    }
    for r in out:
        assert math.isclose(r.cos, exact[(r.q_id, r.vec_id)], abs_tol=1e-6)


def test_ivf_centroids_deterministic_seed_sample(spark, vectors):
    df, _ = vectors
    c1 = sorted(r.cid for r in S.ivf_centroids(df, 6).collect())
    c2 = sorted(r.cid for r in S.ivf_centroids(df, 6).collect())
    assert c1 == c2 and len(c1) == 6


def test_quantize_roundtrip_and_bounds(spark, vectors):
    vectors, _ = vectors
    qv = S.quantize_vectors(vectors, "vec_id", "embedding")
    rows = qv.collect()
    assert rows and all(
        max(abs(x) for x in r.qvec) <= 127 for r in rows
    )
    # every vector's max-|component| quantizes to ±127 exactly
    assert all(max(abs(x) for x in r.qvec) == 127 for r in rows if r.scale > 0)
    # the packed blob is one int8 byte per component
    packed = S.pack_qvecs(qv)
    back = {
        r.vec_id: np.frombuffer(r.qvec, np.int8).tolist()
        for r in packed.collect()
    }
    for r in rows:
        assert back[r.vec_id] == r.qvec


def test_quantized_cosine_tracks_exact(spark, vectors):
    import itertools

    vectors, _ = vectors
    vecs = {r.vec_id: np.array(r.embedding) for r in vectors.collect()}
    q = {r.vec_id: (np.array(r.qvec), r.scale) for r in
         S.quantize_vectors(vectors, "vec_id", "embedding").collect()}
    for a, b in itertools.islice(itertools.combinations(sorted(vecs), 2), 200):
        va, vb = vecs[a], vecs[b]
        exact = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        qa, qb = q[a][0], q[b][0]
        quant = float(qa @ qb / (np.linalg.norm(qa) * np.linalg.norm(qb)))
        # int8 on 64 dims: componentwise error <= 0.5/127 of the max
        # component — observed cosine drift stays well under 0.03
        assert abs(exact - quant) < 0.03, (a, b, exact, quant)


def test_quantized_index_is_smaller_on_disk(spark, tmp_path):
    from pathlib import Path

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    full = str(tmp_path / "full")
    packed = str(tmp_path / "packed")
    e.select("vec_id", "embedding").write.parquet(full)
    S.pack_qvecs(
        S.quantize_vectors(e, "vec_id", "embedding").select(
            "vec_id", "qvec", "scale"
        )
    ).write.parquet(packed)

    def psize(p):
        return sum(f.stat().st_size for f in Path(p).rglob("part-*"))

    ratio = psize(packed) / psize(full)
    # float64[64] ≈ 512 B/vec vs 64 B blob + scale; parquet encoding
    # narrows the gap but the blob layout must stay well under half
    assert ratio < 0.5, ratio


def test_quantized_ivf_recall_vs_exact(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = e.filter(F.col("vec_id") < 5)
    exact = {
        (r.q_id, r.vec_id)
        for r in S.brute_force_topk(e, q, k=10).collect()
    }
    cent, assigned = S.ivf_build(e, n_centroids=16)
    qidx = S.quantize_vectors(
        assigned.select("vec_id", F.col("c_vec").alias("embedding"))
    ).join(assigned.select("vec_id", "cid"), "vec_id")
    # probe EVERY list: isolates quantization loss from probe loss
    got = {
        (r.q_id, r.vec_id)
        for r in S.ivf_query_quantized(cent, qidx, q, k=10, nprobe=16).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, recall


def test_rescored_tier_ranks_by_exact_cosine(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = e.filter(F.col("vec_id") < 3)
    cent, assigned = S.ivf_build(e, n_centroids=16)
    qidx = S.quantize_vectors(
        assigned.select("vec_id", F.col("c_vec").alias("embedding"))
    ).join(assigned.select("vec_id", "cid"), "vec_id")
    quant = {
        (r.q_id, r.vec_id): r.cos
        for r in S.ivf_query_quantized(cent, qidx, q, k=40, nprobe=16).collect()
    }
    resc = S.ivf_query_rescored(
        cent, qidx, assigned, q, k=10, nprobe=16, overfetch=4
    ).collect()
    exact = {
        (r.q_id, r.vec_id): r.cos
        for r in S.brute_force_topk(e, q, k=1000).collect()
    }
    # rescored results come FROM the quantized candidate set, carry
    # the EXACT cosine, and are ranked by it
    by_q = {}
    for r in resc:
        assert (r.q_id, r.vec_id) in quant
        assert r.cos == pytest.approx(exact[(r.q_id, r.vec_id)], abs=1e-6)
        by_q.setdefault(r.q_id, []).append((r.rank, r.cos))
    for ranks in by_q.values():
        ordered = sorted(ranks)
        assert all(
            ordered[i][1] >= ordered[i + 1][1] for i in range(len(ordered) - 1)
        )


def test_probe_exprs_distinct_hamming1(spark):
    df = spark.createDataFrame([("1010",)], "bucket string")
    probes = df.select(
        F.array(*[F.expr(e) for e in S.probe_exprs("bucket", 4)]).alias("p")
    ).collect()[0].p
    assert probes[0] == "1010"
    assert sorted(probes[1:]) == sorted(["0010", "1110", "1000", "1011"])
    assert len(set(probes)) == 5


def test_lsh_bucket_deterministic(spark, vectors):
    df, _ = vectors
    signs = S.hyperplane_signs()
    b1 = {r.vec_id: r.b for r in df.select(
        "vec_id", S.lsh_bucket(S._dvec(F.col("embedding")), signs).alias("b")
    ).collect()}
    b2 = {r.vec_id: r.b for r in df.select(
        "vec_id", S.lsh_bucket(S._dvec(F.col("embedding")), signs).alias("b")
    ).collect()}
    assert b1 == b2
    assert all(len(v) == S.LSH_PLANES for v in b1.values())


def test_embedding_neardup_finds_planted_pair(spark):
    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "vec_id long, embedding array<double>"
    )
    out = {
        (r.i, r.j)
        for r in S.embedding_neardup_pairs(df, threshold=0.9, dim=4).collect()
    }
    # near-identical vectors always share every band bucket (sign bits
    # are equal for vectors this close), so LSH cannot drop the pair
    assert out == {(0, 1)}


def test_neardup_auto_band_sizing_rule():
    """rows_per_band=None sizes to the corpus: the NEARDUP_ROWS floor
    keeps every fixture (<= 8192 vectors) on the oracle's 4×4 banding,
    and past the floor each doubling of the corpus adds one plane
    (expected bucket width pinned at ~NEARDUP_TARGET_BUCKET)."""
    tb = S.NEARDUP_TARGET_BUCKET
    assert S.auto_rows_per_band(500) == S.NEARDUP_ROWS
    assert S.auto_rows_per_band(2000) == S.NEARDUP_ROWS
    assert S.auto_rows_per_band(tb * 2**S.NEARDUP_ROWS) == S.NEARDUP_ROWS
    assert S.auto_rows_per_band(tb * 2**S.NEARDUP_ROWS * 2) == S.NEARDUP_ROWS + 1
    # cluster scale: 1B vectors → ~21 planes, width still ~target
    r = S.auto_rows_per_band(10**9)
    assert tb / 2 <= 10**9 / 2**r <= tb


def test_embedding_neardup_lsh_subset_of_exact(spark, vectors):
    """The banded-LSH output is exactly {exact pairs} ∩ {band
    collisions}: a subset of the exhaustive result with identical
    cosines, and every pair it emits is emitted once."""
    df, _ = vectors
    lsh_rows = S.embedding_neardup_pairs(df, threshold=0.3, dim=8).collect()
    exact = {
        (r.i, r.j): r.cos
        for r in S.embedding_neardup_pairs_exact(df, threshold=0.3).collect()
    }
    assert len(lsh_rows) == len({(r.i, r.j) for r in lsh_rows})  # deduped
    assert len(lsh_rows) > 0
    for r in lsh_rows:
        assert (r.i, r.j) in exact
        assert r.cos == exact[(r.i, r.j)]  # bit-identical, not approx


def test_cluster_duplicates_random_graphs_match_union_find(spark):
    """Randomized differential check: min-label + pointer doubling must
    equal a plain Python union-find on arbitrary edge lists (cliques,
    chains, stars, crossing components)."""
    import random

    rng = random.Random(23)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 45))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        expect = {v: find(v) for v in sorted(touched)}
        # union-find roots are not guaranteed minimal under path
        # compression order; normalize to min-of-component
        comp_min: dict[int, int] = {}
        for v, r in expect.items():
            comp_min[r] = min(comp_min.get(r, v), v)
        expect = {v: comp_min[r] for v, r in expect.items()}

        pairs = spark.createDataFrame(edges, "d1 long, d2 long")
        got = {
            r.id: r.cluster for r in D.cluster_duplicates(pairs).collect()
        }
        assert got == expect, f"trial {trial}"


def test_ann_recall_on_fixture_embeddings(spark):
    """Measured recall@10 on the real embeddings fixture (500 vecs, 20
    queries) — the quality half of the ANN story (exactness of emitted
    scores is pinned above; this pins how much of the true top-k the
    candidate restriction keeps). Deterministic: hyperplanes and the
    centroid seed-sample are seed-fixed functions of the data.

    Measured this round: LSH multi-probe 1.0 on both sf0.001/sf0.01;
    IVF nprobe=8 (of ~23 lists) 0.54-0.63 — floors asserted with
    margin. Probing every list degenerates IVF to exact (recall 1.0),
    pinning the recall-vs-work knob's endpoints.
    """
    from kaj_query_engine_spark.catalog import _read_parquet

    vecs = _read_parquet(spark, f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    queries = vecs.limit(20)
    brute = {
        (r.q_id, r.vec_id)
        for r in S.brute_force_topk(vecs, queries, k=10).collect()
    }
    lsh = {
        (r.q_id, r.vec_id) for r in S.lsh_topk(vecs, queries, k=10).collect()
    }
    assert len(lsh & brute) / len(brute) >= 0.9
    cent, assigned = S.ivf_build(vecs)
    n_lists = cent.count()
    ivf = {
        (r.q_id, r.vec_id)
        for r in S.ivf_query(cent, assigned, queries, k=10, nprobe=8).collect()
    }
    assert len(ivf & brute) / len(brute) >= 0.45
    exhaustive = {
        (r.q_id, r.vec_id)
        for r in S.ivf_query(
            cent, assigned, queries, k=10, nprobe=n_lists
        ).collect()
    }
    assert exhaustive == brute


def test_minhash_candidate_recall_on_fixture_documents(spark):
    """Measured candidate recall of MinHash+LSH against the exact
    n-gram Jaccard verifier on the real documents fixture — the dedup
    analog of the ANN recall floor above. Measured this round: 27/28
    true pairs (0.964) at sf0.001, 25/25 (1.0) at sf0.01, threshold
    0.4 — a single near-threshold pair slipping a banding is expected
    LSH behavior; the floor guards against a hashing/banding
    regression that silently drops whole duplicate groups."""
    from kaj_query_engine_spark.catalog import _read_parquet

    docs = _read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    exact = {
        tuple(sorted((r.d1, r.d2)))
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.4
        ).collect()
    }
    cand = {
        tuple(sorted((r.d1, r.d2)))
        for r in D.minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    assert exact, "fixture should contain true near-dup pairs"
    assert len(cand & exact) / len(exact) >= 0.9


def test_materialized_ivf_serves_identically_to_fresh_build(spark, tmp_path):
    """Build-once/serve-many parity: q63's materialized index (parquet,
    partitionBy(cid), staleness-token guarded) must serve top-k results
    IDENTICAL to a fresh in-session ivf_build + ivf_query — the
    materialization may change physical layout only, never results.
    Also pins the scale property that makes the layout worth it:
    dynamic partition pruning turns the probe join into
    PartitionFilters on the index scan (only probed lists read)."""
    from kaj_query_engine_spark.workload.similarity import (
        IVF_CENTROIDS,
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
        materialized_ivf_index,
    )
    from kaj_query_engine_spark.workload.core import t

    e = t(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)

    cent_f, asg_f = S.ivf_build(e, n_centroids=IVF_CENTROIDS)
    fresh = S.ivf_query(cent_f, asg_f, q, k=TOP_K, nprobe=IVF_NPROBE)
    cent_m, asg_m = materialized_ivf_index(spark, SF_DIR)
    served = S.ivf_query(cent_m, asg_m, q, k=TOP_K, nprobe=IVF_NPROBE)

    assert sorted(
        [(r.q_id, r.rank, r.vec_id, r.cos) for r in fresh.collect()], key=lambda x: x[:2]
    ) == sorted(
        [(r.q_id, r.rank, r.vec_id, r.cos) for r in served.collect()], key=lambda x: x[:2]
    )

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, (
        "probe join over the cid-partitioned index should trigger "
        "dynamic partition pruning"
    )


def test_materialized_ivf_rebuilds_only_on_stale_token(spark):
    """Second call with an unchanged source serves from disk: the index
    directories carry the stamped token and are NOT rewritten (mtime
    stable across calls)."""
    import os
    from pathlib import Path

    from kaj_query_engine_spark.workload.scale import _SCRATCH, _tag
    from kaj_query_engine_spark.workload.similarity import materialized_ivf_index

    materialized_ivf_index(spark, SF_DIR)
    apath = _SCRATCH / _tag(SF_DIR) / "ivf_assigned"
    before = max(p.stat().st_mtime_ns for p in Path(apath).rglob("part-*"))
    materialized_ivf_index(spark, SF_DIR)
    after = max(p.stat().st_mtime_ns for p in Path(apath).rglob("part-*"))
    assert before == after


def test_cluster_duplicates_string_ids(spark):
    """Connected components must work for non-numeric ids (string doc
    ids are legitimate): a 4-chain and an isolated pair cluster to
    their lexicographic minima. Guards the numeric-only label-sum
    convergence shortcut — string ids take the join-based changed
    count, not a lossy DECIMAL cast."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "d1 string, d2 string",
    )
    got = {r.id: r.cluster for r in D.cluster_duplicates(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def _union_find_clusters(edges):
    """{node: min id of its component} by a plain Python union-find."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _crosses_partitions(pairs) -> bool:
    """True when some component's edges sit in different partitions
    under different local minima — the case cluster_duplicates can
    only finish with distributed label rounds."""
    roots: dict = {}
    for part in pairs.rdd.glom().collect():
        for v, r in _union_find_clusters([(p.d1, p.d2) for p in part]).items():
            roots.setdefault(v, set()).add(r)
    return any(len(rs) > 1 for rs in roots.values())


def _clusters(pairs, **kw):
    return {r.id: r.cluster for r in D.cluster_duplicates(pairs, **kw).collect()}


def test_cluster_duplicates_single_partition_batch_runs_3_jobs(spark):
    """A curation batch's verified pairs sit in one partition, so the
    partition-local union-find finishes every component and no label
    round runs: contraction shuffle, checkpoint and the cross-edge
    emptiness check are the only jobs."""
    edges = [(10 * i, 10 * i + 3) for i in range(30)]
    pairs = spark.createDataFrame(edges, "d1 long, d2 long").coalesce(1)
    out, jobs = count_jobs(spark, lambda: D.cluster_duplicates(pairs))
    assert jobs <= 3
    assert {r.id: r.cluster for r in out.collect()} == _union_find_clusters(edges)


def test_cluster_duplicates_cross_partition_random_graphs(spark):
    """Components split across partitions leave cross edges for the
    label rounds: round-robin spread, and hash partitioning on d2 so
    that a star's edges land apart."""
    import random

    rng = random.Random(41)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(60, 110))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        edges += [(7, 200 + k) for k in range(6)]  # a star
        df = spark.createDataFrame(edges, "d1 long, d2 long")
        for pairs in (df.repartition(4), df.repartition(4, "d2")):
            assert _crosses_partitions(pairs)
            assert _clusters(pairs) == _union_find_clusters(edges), trial


def test_cluster_duplicates_chain_across_partitions_converges_logarithmically(
    spark,
):
    """A 64-node path whose edges scatter over 8 partitions leaves the
    rounds a graph of diameter near 63; pointer doubling must still
    finish inside 12 rounds."""
    import random

    edges = [(i, i + 1) for i in range(63)]
    random.Random(5).shuffle(edges)
    pairs = spark.createDataFrame(edges, "d1 long, d2 long").repartition(8)
    assert _crosses_partitions(pairs)
    assert _clusters(pairs, max_iters=12) == {i: 0 for i in range(64)}


def test_cluster_duplicates_string_ids_across_partitions(spark):
    """String ids through the cross-partition rounds: Python's order on
    the local roots must agree with Spark's min, and convergence takes
    the changed-row count."""
    import random

    rng = random.Random(8)
    words = [f"doc{rng.randrange(10**6):06d}" for _ in range(40)]
    edges = [(rng.choice(words), rng.choice(words)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    edges += [("Zeta", "alpha"), ("alpha", "\u00e9t\u00e9"), ("\u00e9t\u00e9", "doc")]
    pairs = spark.createDataFrame(edges, "d1 string, d2 string").repartition(2)
    assert _crosses_partitions(pairs)
    assert _clusters(pairs) == _union_find_clusters(edges)


def test_cluster_duplicates_null_endpoint_joins_nothing(spark):
    """A null id is a node of its own: it gets a null cluster and
    links none of its partners, as equi-join rounds over every edge
    treated it."""
    pairs = spark.createDataFrame(
        [(5, None), (5, 6), (None, 9)], "d1 long, d2 long"
    )
    assert _clusters(pairs) == {5: 5, 6: 5, 9: 9, None: None}


def test_cluster_duplicates_empty_pairs(spark):
    pairs = spark.createDataFrame([], "d1 long, d2 long")
    out = D.cluster_duplicates(pairs)
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<id:bigint,cluster:bigint>"


def test_verify_candidate_pairs_matches_exact_verifier(spark):
    """The candidate-verify composition must agree bit-for-bit with
    the inverted-index exact verifier on every pair it emits, and must
    emit exactly the candidate ∩ exact set (no pair invented, none
    above threshold dropped)."""
    from kaj_query_engine_spark.catalog import _read_parquet

    docs = _read_parquet(spark, f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    exact = {
        (r.d1, r.d2): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.4).collect()
    }
    cand = D.minhash_lsh_candidates(docs, "doc_id", "text")
    cand_set = {(r.d1, r.d2) for r in cand.collect()}
    got = {
        (r.d1, r.d2): r.jaccard
        for r in D.verify_candidate_pairs(
            docs, cand, "doc_id", "text", threshold=0.4
        ).collect()
    }
    assert set(got) == set(exact) & cand_set
    for k, v in got.items():
        assert v == exact[k]  # identical double, not just close
    assert got, "fixture should contain verified near-dup pairs"


# ---- integer PageRank (operators/graph.py) --------------------------

def test_pagerank_hand_computed(spark):
    from kaj_query_engine_spark.operators.graph import pagerank_int, SCALE

    # 3-node path graph, symmetrized: 1-2, 2-3
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    got = {r.id: r.rank for r in pagerank_int(edges, iterations=1).collect()}
    init = SCALE // 3
    base = 15 * init // 100
    # node 2 receives all of 1 and 3 (deg 1 each); 1 and 3 get half of 2
    assert got == {
        1: base + 85 * (init // 2) // 100,
        3: base + 85 * (init // 2) // 100,
        2: base + 85 * (init // 1 + init // 1) // 100,
    }
    # mass bound: floor rounding only loses mass, never creates it
    assert sum(got.values()) <= SCALE


def test_pagerank_partitioning_invariant(spark):
    from kaj_query_engine_spark.operators.graph import pagerank_int

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(80)] + [((i * 7) % 23, i) for i in range(80)],
        "src long, dst long",
    )
    a = sorted(map(tuple, pagerank_int(edges, iterations=3).collect()))
    b = sorted(map(tuple, pagerank_int(edges.repartition(13), iterations=3).collect()))
    # exact integer arithmetic: same ranks bit-for-bit at any parallelism
    assert a == b


def test_duplicated_spans_semantics(spark):
    """ExactSubstr span semantics: cross-doc duplicated k-grams flag,
    overlapping/adjacent windows merge into one island, within-doc
    repetition counts toward the duplicate test, and unique text
    yields nothing."""
    from kaj_query_engine_spark.operators.dedup import duplicated_spans

    w = [f"w{i}" for i in range(30)]
    shared = " ".join(w[:10])  # 10 tokens: positions 0..2 flag at k=8
    docs = spark.createDataFrame(
        [
            (1, shared + " " + " ".join(f"a{i}" for i in range(10))),
            (2, " ".join(f"b{i}" for i in range(5)) + " " + shared),
            # within-doc repetition: the same 8 tokens twice
            (3, " ".join(w[20:28]) + " x " + " ".join(w[20:28])),
            (4, " ".join(f"u{i}" for i in range(25))),  # unique
        ],
        "doc_id long, text string",
    )
    out = {
        (r.id, r.span_start, r.span_end, r.n_positions)
        for r in duplicated_spans(docs, "doc_id", "text", k=8).collect()
    }
    # doc1: shared at positions 0..2 -> island [0, 10)
    # doc2: shared starts at token 5 -> positions 5..7 -> [5, 15)
    # doc3: repeats at 0 and 9 -> windows [0,8) and [9,17) are
    #       DISJOINT (9 > 0+8) -> two islands
    assert out == {
        (1, 0, 10, 3),
        (2, 5, 15, 3),
        (3, 0, 8, 1),
        (3, 9, 17, 1),
    }
    # adjacency merges: positions 0 and 8 -> [0,8) + [8,16) -> one island
    docs2 = spark.createDataFrame(
        [
            (1, " ".join(w[:16])),
            (2, " ".join(w[:8]) + " q " + " ".join(w[8:16])),
        ],
        "doc_id long, text string",
    )
    out2 = {
        (r.id, r.span_start, r.span_end)
        for r in duplicated_spans(docs2, "doc_id", "text", k=8).collect()
    }
    assert (1, 0, 16) in out2  # doc1's two flagged windows merged


def test_contaminated_spans_semantics(spark):
    """Benchmark-span decontamination: only corpus positions whose
    k-gram appears in the BENCHMARK flag (within-corpus duplication
    does NOT), islands merge, and hashed==exact."""
    from kaj_query_engine_spark.operators.dedup import contaminated_spans

    w = [f"w{i}" for i in range(40)]
    bench = spark.createDataFrame(
        [(100, " ".join(w[:12]))], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # doc 1 contains bench tokens 0..11 at offset 3
            (1, "x0 x1 x2 " + " ".join(w[:12]) + " y0 y1"),
            # docs 2+3 duplicate EACH OTHER (not the bench): no flags
            (2, " ".join(w[20:32])),
            (3, " ".join(w[20:32])),
            (4, " ".join(f"u{i}" for i in range(20))),  # clean
        ],
        "doc_id long, text string",
    )

    def run(hashed):
        return sorted(
            map(
                tuple,
                contaminated_spans(
                    corpus, bench, "doc_id", "text", k=8,
                    hash_grams=hashed,
                ).collect(),
            )
        )

    out = run(False)
    # doc 1: bench grams flag positions 3..7 -> one island [3, 15)
    assert out == [(1, 3, 15, 5)]
    assert run(True) == out  # hashed payload, identical spans


def test_duplicated_spans_hashed_equals_exact(spark):
    """The production shuffle payload (hash_grams=True: xxhash64 of
    the gram, 8 fixed bytes) must produce byte-identical spans to the
    oracle-comparable exact-string run on a real corpus slice — the
    differential pin for the 100 TB variant."""
    from kaj_query_engine_spark.operators.dedup import duplicated_spans

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    def spans(hashed):
        return sorted(
            map(
                tuple,
                duplicated_spans(
                    docs, "doc_id", "text", k=8, hash_grams=hashed
                ).collect(),
            )
        )

    exact = spans(False)
    assert exact  # the fixture corpus genuinely contains duplicates
    assert spans(True) == exact


def test_kmeans_int_blobs_and_invariance(spark):
    """Integer k-means: separated blobs recover exactly, the result is
    partitioning-invariant bit-for-bit (pure integer arithmetic), and
    an empty cluster keeps its previous centroid instead of crashing."""
    from kaj_query_engine_spark.operators.clustering import kmeans_int

    # three tight blobs in 4-d around distinct corners; ids interleave
    # (vid % 3 = blob) so the k-smallest-ids init spans the blobs
    rows = []
    centers = [(0.4, 0.4, 0.0, 0.0), (0.0, 0.0, 0.4, 0.4), (-0.4, 0.0, 0.0, -0.4)]
    for m in range(6):
        for b, c in enumerate(centers):
            vid = 3 * m + b
            rows.append(
                (vid, [c[d] + 0.001 * ((vid * 7 + d) % 5) for d in range(4)])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.cluster: (r.n, r.id_sum)
        for r in kmeans_int(df, "vec_id", "embedding", k=3, iterations=3).collect()
    }
    # blob b holds ids {b, b+3, ..., b+15}: sums 45 / 51 / 57
    assert sorted(n for n, _ in out.values()) == [6, 6, 6]
    assert sorted(s for _, s in out.values()) == [45, 51, 57]
    # bit-for-bit partitioning invariance
    out2 = {
        r.cluster: (r.n, r.id_sum)
        for r in kmeans_int(
            df.repartition(7), "vec_id", "embedding", k=3, iterations=3
        ).collect()
    }
    assert out2 == out
    # identical points with k=3: clusters 1,2 go empty on the first
    # assignment (ties break to j=0) and must carry their centroids
    same = spark.createDataFrame(
        [(i, [0.1, 0.2]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    sout = kmeans_int(same, "vec_id", "embedding", k=3, iterations=2).collect()
    assert [(r.cluster, r.n, r.id_sum) for r in sout] == [(0, 5, 10)]


def test_semantic_dedup_planted_duplicates(spark):
    """SemDeDup: planted near-identical pairs within a blob are
    dropped (min-id survives), cross-cluster look-alikes are NEVER
    compared (sub-quadratic contract), and clusters without
    duplicates keep every member."""
    # two tight blobs around opposite corners; ids interleave so the
    # k-smallest-ids init spans both
    rows = []
    centers = [(0.4, 0.4, 0.0, 0.0), (-0.4, 0.0, 0.0, -0.4)]
    for m in range(4):
        for b, c in enumerate(centers):
            vid = 2 * m + b
            rows.append(
                (vid, [c[d] + 0.02 * ((vid * 7 + d) % 5) for d in range(4)])
            )
    # plant an exact duplicate of id 0 (blob 0) as id 100: cosine 1.0
    rows.append((100, list(rows[0][1])))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.cluster: r
        for r in D.semantic_dedup(
            df, "vec_id", "embedding", k=2, iterations=3,
            # cos² >= 0.999 (cos >= ~0.9995): above the tightest
            # non-twin in-blob pair (0.9981), below the exact twin (1.0)
            dedup_scale=512, thr_num=999, thr_den=1000,
        ).collect()
    }
    assert len(out) == 2
    total_n = sum(r.n for r in out.values())
    total_dropped = sum(r.dropped for r in out.values())
    assert total_n == 9
    assert total_dropped == 1  # exactly the planted twin
    # the twin's cluster dropped the LARGER id (100): its survivor
    # checksum excludes 100, and every other member survives
    twin = next(r for r in out.values() if r.dropped == 1)
    clean = next(r for r in out.values() if r.dropped == 0)
    assert twin.dup_pairs >= 1
    assert clean.dup_pairs == 0
    members = {0, 2, 4, 6, 100} if twin.n == 5 else {1, 3, 5, 7}
    assert twin.survivor_id_sum == sum(members) - 100
    # threshold is a real knob: at cos >= 0.1 more pairs qualify but
    # survivors still keep the min id of every pair
    loose = D.semantic_dedup(
        df, "vec_id", "embedding", k=2, iterations=3,
        thr_num=1, thr_den=100,
    ).collect()
    assert sum(r.dropped for r in loose) >= 1
    assert all(r.n >= r.dropped for r in loose)


def test_semantic_dedup_injected_assignment_and_pair_cap(spark):
    """Round-12 deployment knobs: (a) a precomputed (id, j) assignment
    injected via ``assigned=`` reproduces the in-line clustering path
    exactly (the build-once-clusters pattern the k≈N/c regime needs);
    (b) ``max_cluster_rows`` only ever FILTERS pairs — per-cluster
    membership is unchanged, dup_pairs/dropped never grow, survivors
    never shrink — and a cap covering the whole cluster is a no-op."""
    from kaj_query_engine_spark.operators.clustering import (
        kmeans_assign_int,
    )

    rows = [
        (i, [0.3 * ((i * 13 + d * 7) % 11 - 5) / 5 for d in range(8)])
        for i in range(60)
    ]
    # plant exact twins so dups exist
    rows += [(100 + i, list(rows[i][1])) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kwargs = dict(k=4, iterations=2, thr_num=999, thr_den=1000)

    base = {r.cluster: r for r in D.semantic_dedup(
        df, "vec_id", "embedding", **kwargs).collect()}

    assigned, _q, _ = kmeans_assign_int(
        df, "vec_id", "embedding", k=4, iterations=2
    )
    inj = {r.cluster: r for r in D.semantic_dedup(
        df, "vec_id", "embedding", assigned=assigned, **kwargs).collect()}
    assert inj == base

    # cap >= any cluster: bitwise no-op
    nocap = {r.cluster: r for r in D.semantic_dedup(
        df, "vec_id", "embedding", max_cluster_rows=10_000, **kwargs
    ).collect()}
    assert nocap == base

    # tight cap: pairs only filtered, membership intact
    capped = {r.cluster: r for r in D.semantic_dedup(
        df, "vec_id", "embedding", max_cluster_rows=8, **kwargs
    ).collect()}
    assert set(capped) == set(base)
    for j, r in capped.items():
        assert r.n == base[j].n
        assert r.dup_pairs <= base[j].dup_pairs
        assert r.dropped <= base[j].dropped
        assert r.survivor_id_sum >= base[j].survivor_id_sum
    assert sum(r.dropped for r in base.values()) >= 1


def test_semantic_dedup_skips_size_probe_when_broadcast_disabled(spark):
    """With autoBroadcastJoinThreshold <= 0 the pair join can never be
    broadcast, so building the plan must not run the eager member-size
    probe: zero Spark jobs at build time (an injected assignment keeps
    k-means' own collects out of the count). The rollup is the same
    as under the session's default threshold, which does broadcast."""
    rows = [
        (i, [0.3 * ((i * 13 + d * 7) % 11 - 5) / 5 for d in range(8)])
        for i in range(60)
    ]
    rows += [(100 + i, list(rows[i][1])) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned = spark.createDataFrame(
        [(r[0], r[0] % 4) for r in rows], "id long, j long"
    )
    kwargs = dict(assigned=assigned, thr_num=999, thr_den=1000)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    cached: list = []
    spark.conf.set(key, "-1")
    try:
        plan, build_jobs = count_jobs(
            spark,
            lambda: D.semantic_dedup(
                df, "vec_id", "embedding", cache_registry=cached, **kwargs
            ),
        )
        assert build_jobs == 0
        off = sorted(plan.collect())
    finally:
        spark.conf.set(key, prev)
    on = sorted(
        D.semantic_dedup(
            df, "vec_id", "embedding", cache_registry=cached, **kwargs
        ).collect()
    )
    for frame in cached:
        frame.unpersist()
    assert off == on
    assert sum(r.dropped for r in on) >= 1


@pytest.mark.parametrize(
    "setting, nbytes", [("1t", 2**40), ("10MB", 10485760), ("-1", 0)]
)
def test_auto_broadcast_bytes_reads_the_planners_threshold(
    spark, setting, nbytes
):
    """Every size string Spark accepts reads as the byte count the
    planner uses (``1t`` is 2**40 bytes); a disabled threshold reads
    as 0. The versioned table's broadcast key cap (~64 bytes a key)
    reads the same value."""
    from kaj_query_engine_spark import session
    from kaj_query_engine_spark.sources.versioned import _broadcast_key_cap

    key_cap = {"1t": 2**40 // 64, "10MB": 163_840, "-1": 0}[setting]
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, setting)
    try:
        assert _broadcast_key_cap(spark) == key_cap
        assert session.broadcast_threshold_bytes(spark) == nbytes
    finally:
        spark.conf.set(key, prev)


def test_semantic_dedup_matches_numpy_model(spark):
    """Differential pin beyond the SQL oracle: semantic_dedup's whole
    pipeline (integer Lloyd clustering + quantized integer cosine
    threshold + min-id survivorship) reproduced independently in
    numpy int64 arithmetic on random vectors — per-cluster stats must
    match exactly, and every intermediate product must fit int64 (the
    overflow-safety claim of the 1/512 grid)."""
    import numpy as np

    rng = np.random.default_rng(424242)
    n, dim, k, iters = 80, 16, 4, 3
    c_scale, d_scale, num, den = 10_000, 512, 49, 400
    vecs = (rng.random((n, dim), dtype=np.float64) - 0.5).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)

    # ---- numpy model (mirrors the documented recipe exactly) -------
    q = np.floor(vecs.astype(np.float64) * c_scale + 0.5).astype(np.int64)
    cents = q[:k].copy()  # init = k smallest ids (ids are 0..n-1)
    assign = None
    for _ in range(iters):
        d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # ties -> smaller index (argmin rule)
        for j in range(k):
            mask = assign == j
            if mask.any():
                s = q[mask].sum(axis=0)
                cnt = int(mask.sum())
                cents[j] = (s - np.mod(s, cnt)) // cnt  # pmod floor-div
    qd = np.floor(vecs.astype(np.float64) * d_scale + 0.5).astype(np.int64)
    n2 = (qd * qd).sum(axis=1)
    expected = {}
    dropped_ids = set()
    pair_counts = {j: 0 for j in range(k)}
    for j in range(k):
        members = ids[assign == j]
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                a, b = members[ai], members[bi]
                dot = int((qd[a] * qd[b]).sum())
                lhs, rhs = dot * dot * den, num * int(n2[a]) * int(n2[b])
                assert abs(lhs) < 2**63 and abs(rhs) < 2**63  # int64-safe
                if dot > 0 and lhs >= rhs:
                    pair_counts[j] += 1
                    dropped_ids.add(int(b))
    for j in range(k):
        members = [int(i) for i in ids[assign == j]]
        if not members:
            continue
        surv = [i for i in members if i not in dropped_ids]
        expected[j] = (
            len(members),
            pair_counts[j],
            sum(1 for i in members if i in dropped_ids),
            sum(surv),
        )

    # ---- the operator ----------------------------------------------
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.cluster: (r.n, r.dup_pairs, r.dropped, r.survivor_id_sum)
        for r in D.semantic_dedup(
            df, "vec_id", "embedding", k=k, iterations=iters,
            cluster_scale=c_scale, dedup_scale=d_scale,
            thr_num=num, thr_den=den,
        ).collect()
    }
    assert got == expected
    # the random draw must actually exercise the dup branch somewhere
    assert any(p for _n, p, _d, _s in got.values())


# ---- multi-source BFS (operators/graph.py) --------------------------


def test_bfs_hops_min_hop_semantics(spark):
    """Diamond + chain: a node reachable at hops 2 AND 3 reports 2
    (min rule); unreachable nodes are absent; seeds report 0 even when
    an edge re-enters them."""
    from kaj_query_engine_spark.operators.traversal import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 5), (5, 4),  # 4 at hop 2 (via 2)
         (4, 1),                                   # cycle back to seed
         (8, 9)],                                  # disconnected
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.hop for r in bfs_hops(edges, seeds, 4).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 2}


def test_bfs_hops_multi_seed_and_zero_hops(spark):
    from kaj_query_engine_spark.operators.traversal import bfs_hops
    import pytest

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 3)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (10,), (10,)], "id long")  # dup seed
    got = {r.id: r.hop for r in bfs_hops(edges, seeds, 3).collect()}
    assert got == {1: 0, 10: 0, 2: 1, 3: 1}  # 3 via 10 beats 3 via 1,2
    # max_hops=0: just the (deduped) seeds
    got0 = {r.id: r.hop for r in bfs_hops(edges, seeds, 0).collect()}
    assert got0 == {1: 0, 10: 0}
    with pytest.raises(ValueError, match="max_hops"):
        bfs_hops(edges, seeds, -1)


def test_bfs_hops_partitioning_invariance(spark):
    """Same graph, adversarial partitioning: identical hop map (the
    oracle-exactness claim — no float, no order sensitivity)."""
    from kaj_query_engine_spark.operators.traversal import bfs_hops

    rows = [(i, (i * 7) % 50) for i in range(50)] + [(i, i + 1) for i in range(49)]
    e1 = spark.createDataFrame(rows, "src long, dst long")
    e2 = e1.repartition(13, "dst")
    seeds = spark.createDataFrame([(0,), (25,)], "id long")
    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert canon(bfs_hops(e1, seeds, 5)) == canon(bfs_hops(e2, seeds, 5))


def test_sssp_min_semantics_and_delta_equals_full(spark):
    """Weighted shortest paths: the cheaper multi-edge path beats the
    direct edge, multi-seed takes the min over sources, unreachable
    nodes stay absent, rounds bound path LENGTH — and a brute-force
    full relaxation on the driver agrees (delta==full)."""
    from kaj_query_engine_spark.operators.traversal import sssp_int
    import pytest

    rows = [(1, 2, 10), (2, 3, 1), (1, 3, 100),  # 1->3 via 2 = 11 < 100
            (9, 3, 1),                            # second seed, closer
            (3, 1, 1),                            # cycle back
            (7, 8, 5)]                            # disconnected
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,), (9,)], "id long")
    got = {r.id: r.dist for r in sssp_int(edges, seeds, 4).collect()}
    assert got == {1: 0, 9: 0, 2: 10, 3: 1}  # 3 via seed 9 beats 11
    # rounds bound path length: with 1 round, 3 costs min(100, 1)
    got1 = {r.id: r.dist for r in sssp_int(edges, seeds, 1).collect()}
    assert got1 == {1: 0, 9: 0, 2: 10, 3: 1}
    # without seed 9: one round can't see the 2-edge path yet
    got1b = {r.id: r.dist
             for r in sssp_int(edges, seeds.filter("id = 1"), 1).collect()}
    assert got1b == {1: 0, 2: 10, 3: 100}
    got2b = {r.id: r.dist
             for r in sssp_int(edges, seeds.filter("id = 1"), 2).collect()}
    assert got2b == {1: 0, 2: 10, 3: 11}
    with pytest.raises(ValueError, match="rounds"):
        sssp_int(edges, seeds, -1)
    # driver brute force over the same rows == the operator, and a
    # repartitioned edge frame changes nothing (exact integers)
    import itertools
    dist = {1: 0, 9: 0}
    for _ in range(4):
        new = dict(dist)
        for s, d, w in rows:
            if s in dist and dist[s] + w < new.get(d, 1 << 60):
                new[d] = dist[s] + w
        dist = new
    assert got == dist
    got_rp = {r.id: r.dist
              for r in sssp_int(edges.repartition(7, "dst"), seeds, 4).collect()}
    assert got_rp == got


def test_semantic_dedup_partial_assignment_singletons(spark):
    """Round-13 advice: an injected assignment that MISSES corpus ids
    must not silently drop them (the old inner join did — understating
    dup_pairs/dropped and losing survivors). Missed ids become
    SINGLETON clusters at a parity-packed negative id (-2·id - 1 for
    id >= 0, 2·id for id < 0: injective, never colliding with real
    cluster indices or each other — NEGATIVE corpus ids included),
    never dropped, visibly present in the output."""
    from kaj_query_engine_spark.operators.clustering import (
        kmeans_assign_int,
    )

    # ids straddle zero so the negative-id packing arm is exercised:
    # corpus ids -10..19, of which -10..-1 and 0..4 are unassigned
    rows = [
        (i, [0.3 * ((i * 13 + d * 7) % 11 - 5) / 5 for d in range(8)])
        for i in range(-10, 20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, _q, _ = kmeans_assign_int(
        df, "vec_id", "embedding", k=4, iterations=2
    )
    partial = assigned.filter(F.col(assigned.columns[0]) >= 5)
    out = D.semantic_dedup(
        df, "vec_id", "embedding", assigned=partial,
        k=4, iterations=2, thr_num=999, thr_den=1000,
    ).collect()
    by_cluster = {r.cluster: r for r in out}
    # every missed id surfaces as its own singleton cluster under the
    # parity packing — odd negatives for id >= 0, even for id < 0
    for i in list(range(-10, 0)) + list(range(5)):
        j = -2 * i - 1 if i >= 0 else 2 * i
        r = by_cluster[j]
        assert (r.n, r.dup_pairs, r.dropped, r.survivor_id_sum) == (
            1, 0, 0, i,
        )
    # covered rows all accounted for in non-negative clusters
    assert sum(r.n for r in out if r.cluster >= 0) == 15
    # total membership: nothing vanished
    assert sum(r.n for r in out) == 30


def test_q12_xxh64_sql_twin_matches_spark(spark):
    """The q12 'capped' oracle reimplements Spark's xxhash64 (XXH64,
    seed 42, 8-byte little-endian long input) in pure DuckDB SQL via
    materialized CTE steps. Pin the twin value-for-value across sign,
    magnitude and both int64 extremes — a drift here would silently
    shift every hash cell in the capped branch."""
    import duckdb

    from kaj_query_engine_spark.workload.similarity import (
        _xxh64_cte_chain,
    )

    vals = [
        0, 1, 2, 3, 42, -1, -2, 17, -12345, 2**31, -(2**31) - 7,
        987654321012345678, -987654321012345678,
        2**63 - 1, -(2**63),
    ]
    frag, final = _xxh64_cte_chain("ids")
    lst = ",".join(str(v) for v in vals)
    sql = (
        f"WITH ids AS (SELECT unnest([{lst}]::BIGINT[]) AS id), {frag} "
        f"SELECT id, xx FROM {final}"
    )
    duck = dict(duckdb.connect().execute(sql).fetchall())
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    )
    assert all(duck[r.v] == r.h for r in rows)


def test_q12_xxh64_sql_twin_property_random_longs():
    """Property pin (no Spark needed, so it can afford thousands of
    values): the DuckDB SQL XXH64 chain equals an independent pure-
    Python XXH64(seed 42, 8-byte LE) written from the spec. Together
    with test_q12_xxh64_sql_twin_matches_spark (which anchors both to
    Spark's JVM implementation on fixed vectors including the int64
    extremes) this pins the triangle SQL == spec == Spark."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kaj_query_engine_spark.workload.similarity import (
        _xxh64_cte_chain,
    )

    M64 = (1 << 64) - 1
    P1, P2, P3, P4, P5 = (
        0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
        0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
    )

    def ref_xxh64_long(v: int, seed: int = 42) -> int:
        def rotl(x, r):
            return ((x << r) | (x >> (64 - r))) & M64

        h = (seed + P5 + 8) & M64
        k = v & M64
        k = (k * P2) & M64
        k = rotl(k, 31)
        k = (k * P1) & M64
        h ^= k
        h = (rotl(h, 27) * P1 + P4) & M64
        h ^= h >> 33
        h = (h * P2) & M64
        h ^= h >> 29
        h = (h * P3) & M64
        h ^= h >> 32
        return h - (1 << 64) if h >= (1 << 63) else h

    frag, final = _xxh64_cte_chain("ids")
    con = duckdb.connect()

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            min_size=1, max_size=64, unique=True,
        )
    )
    def check(vals):
        lst = ",".join(str(v) for v in vals)
        sql = (
            f"WITH ids AS (SELECT unnest([{lst}]::BIGINT[]) AS id), "
            f"{frag} SELECT id, xx FROM {final}"
        )
        got = dict(con.execute(sql).fetchall())
        for v in vals:
            assert got[v] == ref_xxh64_long(v), v

    check()


def test_semantic_dedup_out_of_range_singleton_id_raises(spark):
    """Round-14 advice: the parity packing that turns assignment-missed
    rows into singleton clusters is injective only over |id| < 2^62 —
    past it, non-ANSI long arithmetic wraps silently and a wrapped
    value can land non-negative, masquerading as a real cluster index.
    The bound is now ENFORCED in the lowered plan (raise_error inside
    the consumed ``j`` expression, so column pruning can't drop it):
    an out-of-range UNASSIGNED id fails the job loudly; boundary-
    adjacent in-range ids still pack fine."""
    from py4j.protocol import Py4JJavaError

    lim = 1 << 62
    dims = [0.1] * 8
    good = spark.createDataFrame(
        [(lim - 1, dims), (-(lim - 1), dims), (7, dims)],
        "vec_id long, embedding array<float>",
    )
    empty_assign = spark.createDataFrame(
        [], "id long, j long"
    )
    out = D.semantic_dedup(
        good, "vec_id", "embedding", assigned=empty_assign,
        k=2, iterations=1,
    ).collect()
    # all three unassigned -> three singletons, packed injectively
    assert sorted(r.cluster for r in out) == sorted(
        [-2 * (lim - 1) - 1, 2 * -(lim - 1), -2 * 7 - 1]
    )
    for bad_id in (lim, -lim, (1 << 63) - 1):
        bad = spark.createDataFrame(
            [(bad_id, dims)], "vec_id long, embedding array<float>"
        )
        with pytest.raises((Py4JJavaError, Exception)) as ei:
            D.semantic_dedup(
                bad, "vec_id", "embedding", assigned=empty_assign,
                k=2, iterations=1,
            ).collect()
        assert "singleton-packing range" in str(ei.value)


def test_semantic_dedup_cache_registry_hands_back_persisted(spark):
    """Round-14 advice: semantic_dedup persists its member frame
    (lineage = the full Lloyd run); callers that materialize the
    result own the unpersist. ``cache_registry`` hands the persisted
    frame(s) back so that ownership is exercisable — without it the
    frames are session-lifetime until clearCache()."""
    rows = [
        (i, [0.3 * ((i * 13 + d * 7) % 11 - 5) / 5 for d in range(8)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    reg: list = []
    out = D.semantic_dedup(
        df, "vec_id", "embedding", k=2, iterations=1,
        cache_registry=reg,
    )
    assert out.count() >= 1
    assert len(reg) == 1
    assert all(f.storageLevel.useMemory for f in reg)
    for f in reg:
        f.unpersist(blocking=True)
    assert not any(f.storageLevel.useMemory for f in reg)


def test_semantic_dedup_fused_variants_match_separate_calls(spark):
    """Round-14 optimization pin: ``_semantic_dedup_variants`` runs
    several (name, cap) variants through ONE member frame / pair join
    / rollup; each variant's rows must be bit-identical to a separate
    ``semantic_dedup`` call with that cap — including the singleton
    path for rows the injected assignment misses, and the derived
    survivor checksum (Σ member ids − Σ dropped ids)."""
    from kaj_query_engine_spark.operators.clustering import (
        kmeans_assign_int,
    )
    from kaj_query_engine_spark.operators.dedup import (
        _semantic_dedup_variants,
    )

    rows = [
        (i, [0.3 * ((i * 13 + d * 7) % 11 - 5) / 5 for d in range(8)])
        for i in range(60)
    ]
    rows += [(100 + i, list(rows[i][1])) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, _q, _ = kmeans_assign_int(
        df, "vec_id", "embedding", k=4, iterations=2
    )
    # drop some ids from the assignment -> singleton path exercised
    part = assigned.filter(F.col(assigned.columns[0]) % 7 != 0)
    kwargs = dict(k=4, iterations=2, thr_num=999, thr_den=1000)

    fused = _semantic_dedup_variants(
        df, "vec_id", "embedding", cluster_scale=10_000,
        dedup_scale=512, assigned=part,
        variants=[("u", None), ("c", 8)], **kwargs
    ).collect()
    by_v = {}
    for r in fused:
        by_v.setdefault(r._variant, {})[r.cluster] = (
            r.n, r.dup_pairs, r.dropped, r.survivor_id_sum
        )

    for name, cap in [("u", None), ("c", 8)]:
        sep = {
            r.cluster: (r.n, r.dup_pairs, r.dropped, r.survivor_id_sum)
            for r in D.semantic_dedup(
                df, "vec_id", "embedding", assigned=part,
                max_cluster_rows=cap, **kwargs
            ).collect()
        }
        assert by_v[name] == sep, name


def test_kmeans_assignment_only_trim_matches_full(spark):
    """Round-15 §2.4 trim: final_centroids=False skips the LAST
    iteration's centroid-update job (the assignment is computed from
    the pre-update centroids, so the returned (id, j) frame cannot
    change) — pinned by comparing both modes bit-for-bit, plus the
    returned cents of the trimmed run equaling the full run's
    PENULTIMATE update (i.e. one update behind)."""
    from kaj_query_engine_spark.operators.clustering import (
        kmeans_assign_int,
    )

    import random

    r = random.Random(4151)
    rng_rows = [
        (i, [r.uniform(-9, 9) for _d in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(
        rng_rows, "vec_id long, embedding array<float>"
    )
    full_a, _q1, full_c = kmeans_assign_int(
        df, "vec_id", "embedding", k=4, iterations=3
    )
    trim_a, _q2, trim_c = kmeans_assign_int(
        df, "vec_id", "embedding", k=4, iterations=3,
        final_centroids=False,
    )
    assert sorted(map(tuple, trim_a.collect())) == sorted(
        map(tuple, full_a.collect())
    )
    # the trimmed cents are the full run's state after T-1 updates
    prev_a, _q3, prev_c = kmeans_assign_int(
        df, "vec_id", "embedding", k=4, iterations=2
    )
    assert trim_c == prev_c
    assert full_c != prev_c  # the data actually moves the centroids


def test_q63_fused_matches_operator_calls(spark):
    """Round-15 q63 fusion pin: the fused single-plan serving (one
    float-index scan tagging probe4⊆probe_all, one quantized tier
    feeding both 'quant' and the rescore candidates, one shared final
    top-k window) must reproduce the five separate ivf_query*
    operator calls row-for-row."""
    from kaj_query_engine_spark.operators import similarity as S
    from kaj_query_engine_spark.workload.similarity import (
        IVF_CENTROIDS,
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
        _INCR_HOLDOUT_MOD,
        _INCR_HOLDOUT_REM,
        materialized_incr_ivf_base,
        materialized_ivf_index,
        materialized_quantized_ivf_index,
        q63,
    )
    from kaj_query_engine_spark.workload.core import t as _t

    sf_dir = "/root/testdata/sf0.001"
    fused = {
        (r.path, r.q_id, r.rank): (r.vec_id, r.cos)
        for r in q63(spark, sf_dir).collect()
    }

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    cent, assigned = materialized_ivf_index(spark, sf_dir)
    qidx = materialized_quantized_ivf_index(spark, sf_dir)
    cent_i, assigned_i = materialized_incr_ivf_base(spark, sf_dir)
    batch = e.filter(
        F.col("vec_id") % _INCR_HOLDOUT_MOD == _INCR_HOLDOUT_REM
    )
    delta = S.ivf_assign(cent_i, batch)
    sep = {}
    for tag, df in [
        ("probe4", S.ivf_query(cent, assigned, q, k=TOP_K, nprobe=IVF_NPROBE)),
        ("probe_all", S.ivf_query(
            cent, assigned, q, k=TOP_K, nprobe=IVF_CENTROIDS)),
        ("quant", S.ivf_query_quantized(
            cent, qidx, q, k=TOP_K, nprobe=IVF_NPROBE)),
        ("rescored", S.ivf_query_rescored(
            cent, qidx, assigned, q, k=TOP_K, nprobe=IVF_NPROBE)),
        ("incr", S.ivf_query(
            cent_i, assigned_i.unionByName(delta.select(*assigned_i.columns)),
            q, k=TOP_K, nprobe=IVF_NPROBE)),
    ]:
        for r in df.collect():
            sep[(tag, r.q_id, r.rank)] = (r.vec_id, r.cos)
    assert fused == sep
