"""Unit tests for the training-mix operators (operators/pipeline.py):
deterministic stratified sampling and concat-and-chunk packing."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaj_query_engine_spark.operators import pipeline as P


def _docs(spark, n=200):
    langs = ["en", "de", "fr", "zh"]
    rows = [(i, langs[i % 4], 10 + i % 50) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, lang string, n_tokens int")


def test_sample_rates_and_determinism(spark):
    d = _docs(spark, 2000)
    out = P.stratified_sample(d, "doc_id", "lang", {"en": 1.0, "de": 0.5})
    rows = out.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, 0)
        by_lang[r.lang] += 1
    assert by_lang.get("en") == 500  # rate 1.0 keeps every en doc
    assert "fr" not in by_lang and "zh" not in by_lang  # default 0.0
    assert 150 < by_lang.get("de", 0) < 350  # ~250 expected at 0.5
    # deterministic: re-running and re-partitioning changes nothing
    again = P.stratified_sample(
        d.repartition(13), "doc_id", "lang", {"en": 1.0, "de": 0.5}
    )
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in again.collect()
    )


def test_pack_sequences_contiguous_within_shard(spark):
    d = _docs(spark, 300)
    out = P.pack_sequences(d, "doc_id", "n_tokens", 128, num_shards=4).collect()
    shards: dict[int, list] = {}
    for r in out:
        shards.setdefault(r.shard, []).append(r)
    assert set(shards) == {0, 1, 2, 3}
    for rows in shards.values():
        rows.sort(key=lambda r: r.doc_id)
        # offsets are the exact running sum: no gaps, no overlaps
        expect = 0
        for r in rows:
            assert r.offset == expect
            assert r.first_chunk == r.offset // 128
            assert r.last_chunk == (r.offset + r.n_tokens - 1) // 128
            assert r.first_chunk <= r.last_chunk
            expect += r.n_tokens


def test_pack_chunk_spans_boundary(spark):
    d = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100)], "doc_id long, n_tokens int"
    )
    out = {
        r.doc_id: r
        for r in P.pack_sequences(
            d, "doc_id", "n_tokens", 128, num_shards=1
        ).collect()
    }
    assert out[1].first_chunk == 0 and out[1].last_chunk == 0
    assert out[2].first_chunk == 0 and out[2].last_chunk == 1  # straddles
    assert out[3].first_chunk == 1 and out[3].last_chunk == 2


def test_decontaminate_flags_overlap_and_scores(spark):
    """Doc 10 copies a benchmark passage (all shingles hit), doc 11
    shares one 3-gram, doc 12 is clean and must not appear."""
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # full copy
            (11, "zz yy alpha beta gamma xx ww"),    # one shared 3-gram
            (12, "one two three four five six"),     # clean
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in P.decontaminate(train, bench, n=3).collect()}
    assert set(out) == {10, 11}
    assert out[10].n_shingles == 3 and out[10].n_hit == 3
    assert out[10].contamination == 1.0
    assert out[11].n_shingles == 5 and out[11].n_hit == 1
    assert abs(out[11].contamination - 0.2) < 1e-12


def test_decontaminate_short_docs_drop_out(spark):
    """Docs shorter than n words have no shingles: never flagged, and
    no divide-by-zero."""
    bench = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(10, "a b"), (11, "")], "doc_id long, text string"
    )
    assert P.decontaminate(train, bench, n=3).count() == 0


def test_decontaminate_bloom_prefilter_is_exact(spark):
    """The bloom prefilter must be invisible in results: identical
    rows with and without it on a corpus where most docs DON'T overlap
    (the pruning case) and some do (no false negatives), including a
    tiny bitset that forces real false positives through to the exact
    join."""
    from kaj_query_engine_spark.operators import pipeline as P

    bench = spark.createDataFrame(
        [(100, "held out benchmark prompt about spark engines")],
        "doc_id long, text string",
    )
    rows = [(i, f"unrelated text number {i} with filler words") for i in range(40)]
    rows += [
        (50, "a doc quoting the benchmark prompt about spark engines verbatim"),
        (51, "held out benchmark prompt appears here too"),
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")

    def norm(df):
        return sorted(
            (r.id, r.n_shingles, r.n_hit, round(r.contamination, 9))
            for r in df.collect()
        )

    exact = norm(P.decontaminate(train, bench, n=3, bloom_bits=None))
    bloomed = norm(P.decontaminate(train, bench, n=3))
    tiny = norm(P.decontaminate(train, bench, n=3, bloom_bits=256, bloom_k=2))
    # non-multiple-of-8 sizes round up to whole bytes (build and probe
    # agree), and a prebuilt bitset serves identically
    odd = norm(P.decontaminate(train, bench, n=3, bloom_bits=251, bloom_k=2))
    pre = P.benchmark_bloom_bitset(bench, n=3, bloom_bits=251, bloom_k=2)
    reused = norm(
        P.decontaminate(
            train, bench, n=3, bloom_bits=251, bloom_k=2, bloom_bitset=pre
        )
    )
    assert exact == bloomed == tiny == odd == reused
    assert exact, "fixture must actually contain contaminated docs"


def test_chunk_documents_sliding_window(spark):
    """chunk_documents: every token lands in >=1 chunk, starts are on
    the stride grid, overlap equals window - stride for interior
    chunks, trailing chunks are short, degenerate inputs hold the
    n_chunks = ceil(n/stride) rule (empty text splits to one ''
    token on both engines — same as the q40 tokenizer)."""
    import pytest as _pt

    from kaj_query_engine_spark.operators.pipeline import chunk_documents

    docs = spark.createDataFrame(
        [
            (0, " ".join(f"t{i}" for i in range(100))),  # 100 toks
            (1, " ".join(f"u{i}" for i in range(32))),  # exactly window
            (2, "one two"),  # shorter than stride
            (3, ""),  # empty → [''] (1 token)
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, 32, 24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.chunk_idx)
    # ceil(n/stride): 100→5, 32→2, 2→1, 1→1
    assert [len(by_doc[d]) for d in range(4)] == [5, 2, 1, 1]
    toks = [f"t{i}" for i in range(100)]
    for i, r in enumerate(by_doc[0]):
        expect = toks[i * 24 : i * 24 + 32]
        assert r.chunk_text.split(" ") == expect
        assert r.chunk_n_tokens == len(expect)
        assert r.n_tokens == 100
    # interior overlap: last 8 of chunk i == first 8 of chunk i+1
    for a, b in zip(by_doc[0], by_doc[0][1:]):
        assert a.chunk_text.split(" ")[24:] == b.chunk_text.split(" ")[:8]
    # full coverage, in order, no token lost
    covered = []
    for r in by_doc[0]:
        covered.extend(r.chunk_text.split(" ")[: 24])
    assert covered == toks[: len(covered)]
    assert by_doc[1][1].chunk_n_tokens == 32 - 24  # tail after the grid
    assert by_doc[2][0].chunk_text == "one two"
    assert by_doc[3][0].chunk_text == "" and by_doc[3][0].n_tokens == 1
    with _pt.raises(ValueError, match="stride > window"):
        chunk_documents(docs, 8, 9)
    with _pt.raises(ValueError, match=">= 1"):
        chunk_documents(docs, 0, 1)


# ---- DSIR importance resampling (round 14) --------------------------


def test_log2_fp_three_way_twin(spark):
    """The fixed-point log2 must be BIT-IDENTICAL across its three
    implementations — Spark Column (log2_fp), Python (log2_fp_py,
    folds the bucket table into a literal), and DuckDB SQL
    (dsir_log2fp_sql, the oracle) — over the full int64 range the
    pipeline feeds it, or the DSIR weights silently diverge between
    engine and oracle. Also pins accuracy: within 2/1024 of the real
    log2."""
    import math
    import random

    import duckdb

    rng = random.Random(14)
    vals = (
        [1, 2, 3, 4, 1023, 1024, 1025, 2**31 - 1, 2**31, 2**62 - 1]
        + [rng.randrange(1, 2**62) for _ in range(200)]
        + [rng.randrange(1, 2**20) for _ in range(200)]
    )
    py = {v: P.log2_fp_py(v) for v in vals}
    got_spark = {
        r.v: r.l
        for r in spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", P.log2_fp(F.col("v")).alias("l"))
        .collect()
    }
    assert got_spark == py
    con = duckdb.connect()
    sql = (
        f"SELECT v, {P.dsir_log2fp_sql('v')} AS l "
        f"FROM (SELECT unnest({vals}) AS v)"
    )
    got_duck = dict(con.execute(sql).fetchall())
    assert got_duck == py
    for v in vals:
        assert abs(py[v] / 1024 - math.log2(v)) < 2 / 1024, v


def _dsir_py_model(corpus, target, k, n_buckets, noise_bits, seed):
    """Plain-Python DSIR twin: same grams, same md5 bucket hash, same
    smoothing, same integer exponential race."""
    import hashlib

    def grams(text):
        t = text.strip().split(" ")
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % n_buckets

    ct: dict[int, int] = {}
    for _i, txt in target:
        for g in grams(txt):
            b = bucket(g)
            ct[b] = ct.get(b, 0) + 1
    cs: dict[int, int] = {}
    for _i, txt in corpus:
        for g in grams(txt):
            b = bucket(g)
            cs[b] = cs.get(b, 0) + 1
    lf = P.log2_fp_py
    t_tot, s_tot = sum(ct.values()), sum(cs.values())
    lrt = [
        lf(ct.get(i, 0) + 1) - lf(t_tot + n_buckets)
        - lf(cs.get(i, 0) + 1) + lf(s_tot + n_buckets)
        for i in range(n_buckets)
    ]
    out = []
    for i, txt in corpus:
        lw = sum(lrt[bucket(g)] for g in grams(txt))
        h = (
            int(
                hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:15], 16
            ) % (1 << noise_bits)
        )
        v = noise_bits * 1024 - lf(h + 1)
        out.append((lf(v + 1) - lw, i, lw))
    out.sort()
    return [(i, lw, key) for key, i, lw in out[:k]]


def test_dsir_matches_python_model_and_prefers_target_like(spark):
    """Differential pin beyond the SQL oracle: the WHOLE operator —
    gram hashing, smoothed fixed-point ratios, noise race, top-k —
    equals a from-scratch Python model on a planted corpus; and the
    selection behaves like DSIR should: docs sharing the target
    domain's vocabulary carry higher lw and dominate the resample."""
    tgt_vocab = "protein fold enzyme helix ribosome binding".split()
    raw_vocab = "cheap viagra click winner lottery prize".split()

    def doc(i, vocab):
        w = [vocab[(i * 7 + j) % len(vocab)] for j in range(12)]
        return (i, " ".join(w))

    target = [doc(1000 + i, tgt_vocab) for i in range(8)]
    sci = [doc(i, tgt_vocab) for i in range(0, 30)]
    spam = [doc(i, raw_vocab) for i in range(30, 60)]
    corpus = sci + spam
    kw = dict(k=20, n_buckets=64, noise_bits=20, seed=29)
    got = sorted(
        (r.id, r.lw, r.key)
        for r in P.dsir_importance_resample(
            spark.createDataFrame(corpus, "doc_id long, text string"),
            spark.createDataFrame(target, "doc_id long, text string"),
            "doc_id", "text", **kw,
        ).collect()
    )
    want = sorted(_dsir_py_model(corpus, target, **kw))
    assert got == want
    # the model's lw separates domains: every sci doc outweighs every
    # spam doc, and the importance resample keeps mostly sci
    lws = {i: lw for i, lw in (
        (r[0], r[1]) for r in got
    )}
    sci_sel = [i for i, _, _ in got if i < 30]
    spam_sel = [i for i, _, _ in got if i >= 30]
    assert len(sci_sel) > len(spam_sel)
    if sci_sel and spam_sel:
        assert min(lws[i] for i in sci_sel) > max(
            lws[i] for i in spam_sel
        )


def test_dsir_injected_counts_and_merge_rebuild_law(spark):
    """The DSIR amortization knobs (round 14): (a) bucket-count models
    built over batches and summed per bucket equal the from-scratch
    build EXACTLY (the merge==rebuild law); (b) injecting the models
    via target_counts/corpus_counts reproduces the self-counting run
    bit-for-bit (so a deployment's maintained counts serve resamples
    with zero count passes)."""
    from collections import Counter

    from kaj_query_engine_spark.operators.pipeline import (
        dsir_bucket_counts,
        dsir_importance_resample,
    )

    def mk(i, vocab):
        w = []
        for j in range(20):
            w.append(vocab[(i * 5 + j) % len(vocab)])
            w.append("the" if j % 3 == 0 else f"item{i}word{j}")
        return (i, " ".join(w))

    sci = "protein fold enzyme helix ribosome binding".split()
    junk = "winner lottery click prize casino jackpot".split()
    rows = [mk(i, sci) for i in range(12)] + [
        mk(i, junk) for i in range(12, 24)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [mk(100 + i, sci) for i in range(4)], "doc_id long, text string"
    )
    full = dsir_bucket_counts(corpus, "doc_id", "text", 64)
    # merge==rebuild over an arbitrary batch split
    b1 = corpus.filter("doc_id < 8")
    b2 = corpus.filter("doc_id >= 8 AND doc_id < 16")
    b3 = corpus.filter("doc_id >= 16")
    parts = [dsir_bucket_counts(b, "doc_id", "text", 64) for b in (b1, b2, b3)]
    assert dict(sum(map(Counter, parts), Counter())) == full
    # injected == self-counting, bit for bit
    tc = dsir_bucket_counts(target, "doc_id", "text", 64)
    kw = dict(k=8, n_buckets=64)
    self_run = sorted(
        (r.id, r.lw, r.key)
        for r in dsir_importance_resample(
            corpus, target, "doc_id", "text", **kw
        ).collect()
    )
    injected = sorted(
        (r.id, r.lw, r.key)
        for r in dsir_importance_resample(
            corpus, target, "doc_id", "text",
            target_counts=tc, corpus_counts=full, **kw
        ).collect()
    )
    assert injected == self_run
    import pytest as _pytest

    with _pytest.raises(ValueError, match="out-of-range bucket"):
        dsir_importance_resample(
            corpus, target, "doc_id", "text",
            target_counts={64: 1}, corpus_counts=full, **kw
        )


def test_dsir_split_counts_equals_two_passes(spark):
    """dsir_split_counts (one tagged pass) == two dsir_bucket_counts
    over the filtered frames, exactly — the q43 single-scan shape."""
    from kaj_query_engine_spark.operators.pipeline import (
        dsir_bucket_counts,
        dsir_split_counts,
    )

    rows = [
        (i, f"alpha beta{i} gamma delta{i % 3} epsilon the zeta{i}")
        for i in range(40)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    ct, cs = dsir_split_counts(
        d, "doc_id", "text", F.col("doc_id") % 7 == 2, n_buckets=32
    )
    assert ct == dsir_bucket_counts(
        d.filter("doc_id % 7 = 2"), "doc_id", "text", 32
    )
    assert cs == dsir_bucket_counts(
        d.filter("doc_id % 7 <> 2"), "doc_id", "text", 32
    )


def test_lm_bpt_matches_python_model(spark):
    """CCNet LM scoring differential (round 14): the hashed bigram
    LM — train counts, add-one smoothing, fixed-point -log2 P per
    transition, floor-mean bits-per-token — equals a from-scratch
    Python model exactly; short docs (< 2 tokens) score NULL; and
    the score separates in-domain from out-of-domain text (docs made
    of the LM's vocabulary score strictly lower than alien docs)."""
    import hashlib

    from kaj_query_engine_spark.operators.pipeline import (
        lm_bigram_counts,
        lm_bpt_expr,
        log2_fp_py,
    )

    B = 64

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    def model(lm_rows, score_rows):
        cu, cb = {}, {}
        for _i, txt in lm_rows:
            t = txt.strip().split(" ")
            for w in t:
                cu[bucket(w)] = cu.get(bucket(w), 0) + 1
            for a, b in zip(t, t[1:]):
                k = bucket(f"{a} {b}")
                cb[k] = cb.get(k, 0) + 1
        out = {}
        for i, txt in score_rows:
            t = txt.strip().split(" ")
            if len(t) < 2:
                out[i] = None
                continue
            tot = sum(
                log2_fp_py(cu.get(bucket(a), 0) + B)
                - log2_fp_py(cb.get(bucket(f"{a} {b}"), 0) + 1)
                for a, b in zip(t, t[1:])
            )
            out[i] = int(tot // (len(t) - 1))
        return out

    lm_rows = [
        (100 + i, "the quick brown fox jumps over the lazy dog again")
        for i in range(3)
    ] + [(200, "the quick dog jumps over the brown fox once more")]
    score_rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "zxq wvu tsr qpo nml kji hgf edc"),
        (3, "single"),
        (4, "the quick brown fox"),
    ]
    cu, cb = lm_bigram_counts(
        spark.createDataFrame(lm_rows, "doc_id long, text string"),
        "doc_id", "text", B,
    )
    got = {
        r.doc_id: r.bpt
        for r in spark.createDataFrame(
            score_rows, "doc_id long, text string"
        )
        .select("doc_id", lm_bpt_expr("text", cu, cb, B).alias("bpt"))
        .collect()
    }
    want = model(lm_rows, score_rows)
    assert got == want
    assert got[3] is None
    # in-domain text scores strictly fewer bits than alien text
    assert got[1] < got[2] and got[4] < got[2]
