"""Similarity search over embedding columns (array<float>).

Three paths, all pure DataFrame ops (the arithmetic is JVM-side
``zip_with``/``aggregate`` — no Python in the hot path):

- **Brute-force cosine top-k** — the exactness baseline. Cross join of
  a *broadcast* query set against the corpus: one pass over the corpus
  per batch of queries, no shuffle of the big side. At 100 TB this is
  the right shape when |queries| is small (the corpus never moves).
- **LSH-bucketed (random hyperplane) ANN** — a scale path. Each
  vector gets a sign-bucket from B fixed hyperplanes; queries compare
  only within their bucket (candidates ≈ N/2^B), then exact-cosine
  rank. Hyperplanes are deterministic ±1 vectors derived from a fixed
  seed so results are reproducible and oracle-checkable.
- **IVF-flat ANN** — the data-adaptive scale path. A deterministic
  coarse quantizer (md5 seed-sampled centroids) partitions the corpus
  into inverted lists; queries scan only their ``nprobe`` nearest
  lists. List sizes follow the data distribution, which beats
  data-oblivious hyperplanes on clustered corpora.

Determinism for the oracle: the dot product folds left over the array
in index order (``F.aggregate`` ↔ DuckDB ``list_reduce``), so the
double arithmetic is bit-identical across engines.

No counterpart in the reference engine — north-star extension surface.
"""

from __future__ import annotations

import random

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LSH_PLANES = 4  # 2^4 = 16 buckets
LSH_SEED = 7
EMB_DIM = 64

# near-dup banded LSH: `bands` independent sign-hash tables of
# `rows_per_band` hyperplanes each. A pair is a candidate iff it
# collides in >= 1 band; recall at angle θ is 1-(1-(1-θ/π)^r)^b.
NEARDUP_BANDS = 4
NEARDUP_ROWS = 4
# auto-sizing target for embedding_neardup_pairs: expected LSH bucket
# width when rows_per_band=None — 512² cos ops per bucket is trivial
# for the vectorized kernel, and the floor NEARDUP_ROWS keeps the
# 4×4 banding (and so the q62 oracle mirror) stable for any corpus
# up to 512·2⁴ = 8192 vectors
NEARDUP_TARGET_BUCKET = 512


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Order-fixed left-fold dot product (oracle mirror:
    ``list_reduce(list_transform(list_zip(a,b), p -> p[1]*p[2]),
    (x,y) -> x+y)``)."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def hyperplane_signs(
    planes: int = LSH_PLANES, dim: int = EMB_DIM, seed: int = LSH_SEED
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes (fixed seed — same literals are
    embedded in the DuckDB oracle SQL)."""
    rng = random.Random(seed)
    return [[rng.choice([-1.0, 1.0]) for _ in range(dim)] for _ in range(planes)]


def lsh_bucket(vec: Column, signs: list[list[float]]) -> Column:
    """Sign-bit bucket string, one char per hyperplane."""
    bits = []
    for plane in signs:
        lit = F.array(*[F.lit(s) for s in plane])
        bits.append(F.when(dot(vec, lit) > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors per query: (q_id, vec_id, rank, cos).

    ``queries`` is broadcast; the corpus is scanned once. Ties broken
    by neighbor id for determinism.
    """
    from pyspark.sql import Window as W

    # norms hoisted (|v| once per vector, not per pair): the aggregate
    # lambdas run interpreted, and cosine() would re-fold both norms
    # for every (query, corpus) pair — same doubles, 3× less work
    q = queries.select(
        F.col(id_col).alias("q_id"), _dvec(F.col(vec_col)).alias("q_vec")
    ).withColumn("q_nrm", norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("c_vec")
    ).withColumn("c_nrm", norm(F.col("c_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", F.round("cos", 6).alias("cos"))
    )


def probe_exprs(bucket_col: str, planes: int) -> list[str]:
    """SQL expressions for the multi-probe set of a sign bucket: the
    bucket itself plus every Hamming-distance-1 neighbor (one bit
    flipped). All probes are distinct strings, so a corpus vector's
    single bucket matches at most one probe — no pair dedup needed."""
    probes = [bucket_col]
    for i in range(1, planes + 1):
        flip = (
            f"CASE WHEN substring({bucket_col}, {i}, 1) = '1' "
            "THEN '0' ELSE '1' END"
        )
        probes.append(
            f"concat(substring({bucket_col}, 1, {i - 1}), {flip}, "
            f"substring({bucket_col}, {i + 1}, {planes - i}))"
        )
    return probes


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: int | None = None,
    target_bucket: int = 1024,
    multiprobe: bool = True,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket
    (plus its Hamming-1 neighbor buckets when ``multiprobe``), then
    exact cosine rank. Same output shape as brute_force_topk.

    Scale shape: corpus bucketing is a map-only pass; the join is an
    equi-join of the corpus bucket against the broadcast, exploded
    query probe set. ``planes=None`` sizes the table to the corpus —
    planes = ceil(log2(N / target_bucket)) — so a bucket holds
    ~``target_bucket`` vectors no matter how big the corpus is
    (candidates per query ≈ (planes+1)·target_bucket with multi-probe,
    constant in N), instead of the fixed-16-bucket shape whose
    candidate set grows linearly. The sizing count is one cheap
    column-pruned scan; pass ``planes`` explicitly to skip it (and to
    pin the bucketing for an oracle mirror).
    """
    import math

    from pyspark.sql import Window as W

    if planes is None:
        n = corpus.select(id_col).count()
        planes = max(1, math.ceil(math.log2(max(2, n / target_bucket))))
    signs = hyperplane_signs(planes, dim)
    q = queries.select(
        F.col(id_col).alias("q_id"),
        _dvec(F.col(vec_col)).alias("q_vec"),
    ).withColumn("bucket", lsh_bucket(F.col("q_vec"), signs)).withColumn(
        "q_nrm", norm(F.col("q_vec"))
    )
    if multiprobe:
        q = q.select(
            "q_id",
            "q_vec",
            "q_nrm",
            F.explode(
                F.array(*[F.expr(e) for e in probe_exprs("bucket", planes)])
            ).alias("bucket"),
        )
    # norms hoisted — see brute_force_topk
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        _dvec(F.col(vec_col)).alias("c_vec"),
    ).withColumn("bucket", lsh_bucket(F.col("c_vec"), signs)).withColumn(
        "c_nrm", norm(F.col("c_vec"))
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", F.round("cos", 6).alias("cos"))
    )


def seed_hash(col: Column) -> Column:
    """Deterministic 60-bit hash of an id for centroid seed sampling
    (portable: Spark ``conv(substr(md5(s),1,15),16,10)`` == DuckDB
    ``('0x'||substr(md5(s),1,15))::BIGINT``)."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
    ).cast("long")


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, cvec): deterministic IVF coarse quantizer — the
    ``n_centroids`` corpus vectors with the smallest md5-derived id
    hash (a uniform random-without-replacement sample that any engine
    can reproduce; no Lloyd iterations, so the oracle can mirror it
    exactly). TakeOrdered keeps only K rows on the driver path, and
    the result is broadcast everywhere it is used.
    """
    return (
        corpus.select(
            F.col(id_col).alias("cid"),
            _dvec(F.col(vec_col)).alias("cvec"),
            seed_hash(F.col(id_col)).alias("h"),
        )
        .orderBy("h", "cid")
        .limit(n_centroids)
        .select("cid", "cvec")
    )


def ivf_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    target_list: int = 1024,
) -> tuple[DataFrame, DataFrame]:
    """IVF index build: returns ``(centroids, assigned)`` where
    ``assigned`` is (vec_id, cid, c_vec) — each corpus vector labeled
    with its nearest coarse centroid (its inverted "list").

    This is the one O(N·K) pass of the IVF scheme. At 100 TB it runs
    ONCE and ``assigned`` is **materialized** (parquet partitioned by
    cid) as the index; queries then touch only their probed lists.
    The scale_probe measured exactly what happens when this isn't
    done: rebuilding the index inside every query call turns the
    query path super-linear (e≈1.7 at 4x steps) because N·K with
    K≈sqrt(N) is N^1.5.

    - centroids (K ≈ sqrt(N) or N/target_list rows) are computed once
      and **broadcast** — the corpus never shuffles to meet them;
    - assignment is crossJoin(broadcast) → groupBy(id) with map-side
      partial aggregation, so ~N rows cross the wire, not N·K.
    """
    import math

    if n_centroids is None:
        n = corpus.select(id_col).count()
        # sqrt(N) balances assignment cost (N·K) against list length
        # (N/K); never let lists exceed ~target_list vectors
        n_centroids = max(1, max(
            math.ceil(math.sqrt(n)), math.ceil(n / target_list)
        ))
    cent = ivf_centroids(corpus, n_centroids, id_col, vec_col).withColumn(
        "cnrm", norm(F.col("cvec"))
    )
    return cent, ivf_assign(cent, corpus, id_col, vec_col)


def ivf_assign(
    centroids: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to an EXISTING coarse quantizer — both the build
    pass (``ivf_build`` delegates here) and the INCREMENTAL half of
    index maintenance: new corpus vectors join a live IVF index by
    computing K broadcast cosines each and landing in their best list,
    with the centroids FROZEN (re-clustering would invalidate every
    stored list — real IVF deployments re-train offline and swap).
    Returns (vec_id, cid, c_vec, c_nrm) rows appendable to the
    materialized cid-partitioned index; the stored index is never
    read, so per-batch ingest cost is O(|batch|·K) regardless of
    index size.

    ``centroids`` needs (cid, cvec); a missing cnrm is derived.

    - norms hoisted: cosine(a,b) = dot(a,b)/(|a|·|b|), and the
      higher-order aggregate lambdas run INTERPRETED (outside
      codegen), so computing |a| once per vector instead of once per
      (vector, centroid) pair cuts the N·K assignment's lambda work
      3× — with bit-identical doubles (same ops on the same operands,
      just not recomputed);
    - nearest centroid per vector, ties → smallest cid. The
      min(struct(-cos, cid)) form aggregates map-side (partial agg),
      so only ~N rows shuffle; -cos ordering == cos DESC for IEEE
      doubles (cosines are finite; Spark orders -0.0 == 0.0 like
      DuckDB). first(c_vec) is deterministic here: the input has one
      row per id, so every row in the group carries the identical
      vector."""
    cent = centroids
    if "cnrm" not in cent.columns:
        cent = cent.select("cid", "cvec").withColumn(
            "cnrm", norm(F.col("cvec"))
        )
    c = vectors.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("c_vec")
    ).withColumn("c_nrm", norm(F.col("c_vec")))
    pair_cos = dot(F.col("c_vec"), F.col("cvec")) / (
        F.col("c_nrm") * F.col("cnrm")
    )
    return (
        c.crossJoin(F.broadcast(cent.select("cid", "cvec", "cnrm")))
        .select(
            "vec_id",
            "c_vec",
            "c_nrm",
            F.struct(
                (-pair_cos).alias("ncos"),
                F.col("cid").alias("cid"),
            ).alias("s"),
        )
        .groupBy("vec_id")
        .agg(
            F.min("s").alias("best"),
            F.first("c_vec").alias("c_vec"),
            F.first("c_nrm").alias("c_nrm"),
        )
        .select("vec_id", F.col("best.cid").alias("cid"), "c_vec", "c_nrm")
    )


def ivf_build_fast(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    target_list: int = 1024,
) -> tuple[DataFrame, DataFrame]:
    """Arrow-vectorized IVF build: same ``(centroids, assigned)``
    contract as :func:`ivf_build`, with the N·K assignment computed as
    ONE numpy matmul per Arrow batch (batch_vectors @ centroids.T)
    instead of N·K interpreted aggregate lambdas — 46 s → ~2 s at
    32k×179 on local[32], and the gap widens with K.

    Trade: numpy's dot accumulates in a different order than the JVM
    left-fold, so cosines can differ in the last bits and a vector
    exactly between two centroids may land in the other list —
    assignment is NOT guaranteed bit-identical to ivf_build (ties
    break to the smallest cid in both). Use ivf_build where the
    oracle checks assignment; use this to build real indexes.

    The centroid matrix (K×dim, the K ≈ √N coarse quantizer) is tiny
    and ships to executors inside the UDF closure — the corpus never
    shuffles; the build is one map-only pass followed by the same
    parquet materialization.
    """
    import math

    import numpy as np
    import pandas as pd

    if n_centroids is None:
        n = corpus.select(id_col).count()
        n_centroids = max(1, max(
            math.ceil(math.sqrt(n)), math.ceil(n / target_list)
        ))
    cent = ivf_centroids(corpus, n_centroids, id_col, vec_col).withColumn(
        "cnrm", norm(F.col("cvec"))
    )
    crows = sorted(cent.select("cid", "cvec").collect(), key=lambda r: r.cid)
    cids = np.array([r.cid for r in crows], dtype=np.int64)
    cmat = np.array([r.cvec for r in crows], dtype=np.float64)
    cnrm = np.linalg.norm(cmat, axis=1)

    from collections.abc import Iterator

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(V, axis=1)
            cos = (V @ cmat.T) / (vn[:, None] * cnrm[None, :])
            # argmax returns the FIRST max → smallest cid on exact
            # ties (crows sorted by cid), matching the JVM path
            best = np.argmax(cos, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "cid": cids[best],
                    "c_vec": list(V),
                    "c_nrm": vn,
                }
            )

    # contract parity with ivf_build: the id column keeps ITS type
    # (string ids and such pass through), not a hardcoded int64
    id_type = corpus.schema[id_col].dataType.simpleString()
    assigned = corpus.select(id_col, vec_col).mapInPandas(
        assign,
        schema=f"vec_id {id_type}, cid long, c_vec array<double>, c_nrm double",
    )
    # cid dtype parity with ivf_build (centroid cid is int from the
    # seed-sample rank)
    assigned = assigned.withColumn("cid", F.col("cid").cast("int"))
    return cent, assigned


def ivf_query(
    cent: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF query path over a built (optionally pre-materialized)
    index: (q_id, vec_id, rank, cos).

    The probe join is an equi-join on cid against the broadcast
    exploded (query × nprobe) side — candidates ≈ nprobe·N/K per
    query. Recall-vs-work knob: fixed ``nprobe`` keeps candidates
    per query CONSTANT as the index grows (the scanned fraction
    nprobe/K shrinks, and with it recall for far-flung neighbors);
    the sqrt(K) default grows candidates as N^(3/4) for K≈sqrt(N) —
    pick per workload, nothing re-touches the full corpus either way.
    """
    import math

    from pyspark.sql import Window as W

    if nprobe is None:
        n_centroids = cent.count()
        # sqrt(K) default: scanned FRACTION (1/sqrt(K)) shrinks as the
        # index grows — the K/4 alternative pins it at 25% of the
        # corpus forever, a non-starter at 100 TB
        nprobe = max(1, math.isqrt(n_centroids))

    q = queries.select(
        F.col(id_col).alias("q_id"), _dvec(F.col(vec_col)).alias("q_vec")
    ).withColumn("q_nrm", norm(F.col("q_vec")))
    # same norm hoisting as the build: |q| once per query, |c| read
    # from the index — the candidate scoring then runs ONE interpreted
    # aggregate (the dot) per pair instead of three
    probe_cos = dot(F.col("q_vec"), F.col("cvec")) / (
        F.col("q_nrm") * F.col("cnrm")
    )
    wq = W.partitionBy("q_id").orderBy(F.desc(probe_cos), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("q_id", "q_vec", "q_nrm", "cid")
    )

    scored = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", F.round("cos", 6).alias("cos"))
    )


def quantize_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization per vector: (vec_id, qvec, scale,
    qnrm) with ``scale = max|x| / 127`` and ``q_i = floor(x_i / scale
    + 0.5)`` (half-up — exactly mirrorable in the DuckDB oracle, where
    banker's rounding would not be). Zero vectors quantize to all-zero
    with scale 0.

    The 100 TB storage lever for the ANN family: an int8 inverted list
    is 8× smaller than the float64 arrays the fixtures carry (64 B vs
    512 B per 64-dim vector, before parquet encoding), so the probed
    lists of a given memory budget hold 8× the corpus. COSINE is
    scale-free — the per-vector scales cancel in q·c / (|q||c|) — so
    quantized scoring needs no dequantization and stays deterministic
    INTEGER arithmetic (``qnrm`` = sqrt of the exact integer
    self-dot, hoisted here once per vector like the float path's
    norms). Dot-product retrieval would multiply the scales back in;
    they are stored for that and for reconstruction.

    Two-step select on purpose: ``scale`` materializes as a column
    BEFORE the quantizing lambda references it (interpreted lambdas
    don't CSE — an inlined scale would recompute the array max once
    per element, O(d²) per vector).
    """
    s1 = df.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("v")
    ).withColumn(
        "scale",
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(127.0),
    )
    qvec = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("v"), lambda x: F.floor(x / F.col("scale") + F.lit(0.5))
        ),
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0).cast("long")))
    s2 = s1.select("vec_id", qvec.alias("qvec"), "scale")
    return s2.withColumn(
        "qnrm", F.sqrt(qdot(F.col("qvec"), F.col("qvec")).cast("double"))
    )


def qdot(a: Column, b: Column) -> Column:
    """Order-fixed integer left-fold dot product (long accumulator —
    |q| ≤ 127 and dim 64 keep even the self-dot < 2^21, so this is
    exact; the oracle mirror is the same list_reduce over BIGINTs)."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def ivf_query_quantized(
    cent: DataFrame,
    qassigned: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF query over an int8-QUANTIZED inverted file: (q_id, vec_id,
    rank, cos) where cos is the quantized cosine (integer dots,
    scales cancelled). ``qassigned`` is :func:`quantize_vectors`
    output joined with the list assignment: (cid, vec_id, qvec, qnrm).

    Probe selection uses the EXACT float centroids — the list choice
    is identical to :func:`ivf_query`, isolating quantization to the
    scoring stage (and the centroid table is K rows; keeping it float
    costs nothing). Candidate scoring touches only int8 arrays: the
    memory-bandwidth-bound stage reads 8× less per probed list.
    """
    import math

    from pyspark.sql import Window as W

    if nprobe is None:
        nprobe = max(1, math.isqrt(cent.count()))

    q = quantize_vectors(
        queries.select(id_col, vec_col), "vec_id", vec_col
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnrm").alias("q_qnrm"),
    )
    # probe choice on exact vectors, as in ivf_query
    qe = queries.select(
        F.col(id_col).alias("q_id"), _dvec(F.col(vec_col)).alias("q_vec")
    ).withColumn("q_nrm", norm(F.col("q_vec")))
    probe_cos = dot(F.col("q_vec"), F.col("cvec")) / (
        F.col("q_nrm") * F.col("cnrm")
    )
    wq = W.partitionBy("q_id").orderBy(F.desc(probe_cos), F.asc("cid"))
    probes = (
        qe.crossJoin(F.broadcast(cent))
        .withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("q_id", "cid")
        .join(F.broadcast(q), "q_id")
    )

    qcos = qdot(F.col("q_qvec"), F.col("qvec")).cast("double") / (
        F.col("q_qnrm") * F.col("qnrm")
    )
    scored = (
        qassigned.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", qcos.alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", F.round("cos", 6).alias("cos"))
    )


def ivf_query_rescored(
    cent: DataFrame,
    qassigned: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int | None = None,
    overfetch: int = 4,
) -> DataFrame:
    """Two-tier retrieval: the int8 inverted file proposes
    ``k·overfetch`` candidates per query (:func:`ivf_query_quantized`
    — the bandwidth-cheap tier), then ONLY those candidates are
    rescored with exact float cosine and the final top-k ranked on
    exact scores. The production serving pattern: the quantized tier's
    recall at a fraction of the bytes, the float tier's precision at
    candidate-bounded cost.

    Scale shape: the float index is touched ONCE, map-only — the
    candidate id set (|queries|·k·overfetch rows) is broadcast into
    its scan; no corpus shuffle, no full-corpus float reads.
    """
    from pyspark.sql import Window as W

    cand = ivf_query_quantized(
        cent, qassigned, queries, id_col, vec_col, k * overfetch, nprobe
    ).select("q_id", "vec_id")
    qe = queries.select(
        F.col(id_col).alias("q_id"), _dvec(F.col(vec_col)).alias("q_vec")
    ).withColumn("q_nrm", norm(F.col("q_vec")))
    rescored = (
        assigned.select("vec_id", "c_vec", "c_nrm")
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qe), "q_id")
        .select(
            "q_id",
            "vec_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", F.round("cos", 6).alias("cos"))
    )


def pack_qvecs(df: DataFrame, qvec_col: str = "qvec") -> DataFrame:
    """Replace the int8 array column with a packed BINARY blob (one
    byte per dimension) — the wire/storage format. Arrow-batched numpy
    (no row-at-a-time Python); parquet then stores a plain byte blob
    instead of a repeated-int column."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def pack(s: pd.Series) -> pd.Series:
        import numpy as np

        return s.map(lambda a: np.asarray(a, dtype=np.int8).tobytes())

    return df.withColumn(qvec_col, pack(F.col(qvec_col)))


def band_hyperplanes(
    bands: int = NEARDUP_BANDS,
    rows_per_band: int = NEARDUP_ROWS,
    dim: int = EMB_DIM,
    seed: int = LSH_SEED,
) -> list[list[list[float]]]:
    """`bands` tables of `rows_per_band` deterministic ±1 hyperplanes
    (one seed stream, chunked — the oracle regenerates the same
    literals)."""
    flat = hyperplane_signs(bands * rows_per_band, dim, seed)
    return [flat[b * rows_per_band : (b + 1) * rows_per_band] for b in range(bands)]


def auto_rows_per_band(n: int, target_bucket: int = NEARDUP_TARGET_BUCKET) -> int:
    """The corpus-derived banding rule for :func:`embedding_neardup_pairs`:
    max(NEARDUP_ROWS, ceil(log2(N / target_bucket))) — expected bucket
    width stays ~``target_bucket`` as the corpus grows (halved per
    extra plane), with the NEARDUP_ROWS floor keeping small corpora on
    the fixed 4×4 banding the q62 oracle mirrors."""
    import math

    return max(
        NEARDUP_ROWS, math.ceil(math.log2(max(2, n / target_bucket)))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    bands: int = NEARDUP_BANDS,
    rows_per_band: int | None = None,
    target_bucket: int = NEARDUP_TARGET_BUCKET,
    seed: int = LSH_SEED,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Candidate pairs (i < j) with cosine >= threshold, candidates
    from banded sign-LSH — the sub-quadratic scale path for
    embedding-space near-duplicate detection.

    Shape: each vector hashes to one bucket per band (JVM-side sign
    bits, a map-only pass), bands explode to (band, bucket) rows
    (N·bands total — never N²), and each occupied bucket is scored by
    a vectorized numpy kernel that only compares *within* the bucket.
    Work = Σ|bucket|² ≈ N²·2^-rows_per_band per band, so rows_per_band
    tunes bucket size to the executor and candidate volume falls
    geometrically with it. ``rows_per_band=None`` (the default)
    auto-sizes it to the corpus — max(NEARDUP_ROWS,
    ceil(log2(N / target_bucket))) — holding expected bucket width
    (and so per-task kernel work) at ~``target_bucket`` no matter how
    big the corpus is; with FIXED bands the probe measures e≈1.3 on a
    growing corpus, with the rule applied e stays ≈0.7 (PERF.md). The
    sizing count is one column-pruned scan; pass ``rows_per_band``
    explicitly to skip it (and to pin the banding for an oracle
    mirror — more planes change WHICH candidate pairs collide).
    A pair colliding in several bands is scored per collision with
    bit-identical doubles, so the final ``distinct`` dedups exactly.

    Semantics: output = all pairs that (a) share >= 1 band bucket and
    (b) pass the threshold. Recall vs the exact all-pairs result at
    angle θ is 1-(1-(1-θ/π)^r)^b — at a real near-dup threshold
    (cos >= 0.9) the 4×4 default gives ~0.95; use
    :func:`embedding_neardup_pairs_exact` as the exhaustive verifier.

    Exactness (for the pairs emitted): the kernel accumulates dot
    products dimension-by-dimension (one vectorized add per dim), so
    every double matches the left-fold ``F.aggregate``/DuckDB
    ``list_reduce`` oracle bit-for-bit — elementwise numpy ops are
    IEEE-exact per element, and nothing reassociates the sum.
    """
    import numpy as np
    import pandas as pd

    if rows_per_band is None:
        rows_per_band = auto_rows_per_band(
            df.select(id_col).count(), target_bucket
        )
    planes = band_hyperplanes(bands, rows_per_band, dim=dim, seed=seed)
    e = df.select(
        F.col(id_col).alias("id"), _dvec(F.col(vec_col)).alias("v")
    )
    buckets = F.array(*[lsh_bucket(F.col("v"), band) for band in planes])
    tagged = e.select(
        "id", "v", F.posexplode(buckets).alias("band", "bucket")
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"i": [], "j": [], "cos": []}).astype(
                {"i": "int64", "j": "int64", "cos": "float64"}
            )
        m = np.stack(pdf["v"].to_numpy())
        dim = m.shape[1]
        # dimension-order accumulation == the left-fold dot product
        dots = np.zeros((len(ids), len(ids)))
        nrm2 = np.zeros(len(ids))
        for d in range(dim):
            dots += m[:, d : d + 1] * m[None, :, d]
            nrm2 += m[:, d] * m[:, d]
        cos = dots / (np.sqrt(nrm2)[:, None] * np.sqrt(nrm2)[None, :])
        keep = (cos >= threshold) & (ids[:, None] < ids[None, :])
        ii, jj = np.nonzero(keep)
        c = cos[ii, jj]
        # HALF_UP away from zero, matching F.round / DuckDB round —
        # np.round is half-to-even and can disagree at half boundaries
        c6 = np.sign(c) * np.floor(np.abs(c) * 1e6 + 0.5) / 1e6
        return pd.DataFrame({"i": ids[ii], "j": ids[jj], "cos": c6})

    scored = tagged.groupBy("band", "bucket").applyInPandas(
        score, "i long, j long, cos double"
    )
    # a pair sharing k bands appears k times with bit-identical cos
    return scored.distinct()


def embedding_neardup_pairs_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    blocks: int = 8,
) -> DataFrame:
    """All pairs (i < j) with cosine >= threshold — the *exhaustive*
    near-dup baseline, as a *block-pair* self-join. Quadratic compute
    by definition (every pair is scored): the ground-truth verifier
    for :func:`embedding_neardup_pairs`, not the 100 TB path.

    Scale shape: rows land in B blocks (id mod B); each of the
    B·(B+1)/2 block pairs is one ``applyInPandas`` group that scores
    its |blk|² pairs with vectorized numpy. Data moved = N·B rows (each
    row replicates to the B pairs containing its block) — no all-pairs
    shuffle, and B tunes group size to executor memory (B ≈ √(N/rows
    per task) at cluster scale). ~20× faster than per-pair JVM
    ``zip_with`` (which allocates an array per pair).

    Exactness: the kernel accumulates dot products dimension-by-
    dimension (one vectorized add per dim), so every double matches the
    left-fold ``F.aggregate``/DuckDB ``list_reduce`` oracle bit-for-bit
    — elementwise numpy ops are IEEE-exact per element, and nothing
    reassociates the sum.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    e = df.select(
        F.col(id_col).alias("id"),
        _dvec(F.col(vec_col)).alias("v"),
        # pmod, not %: Java remainder is negative for negative ids,
        # which would match no (p, q) key and silently drop the row
        F.pmod(F.col(id_col), F.lit(blocks)).cast("int").alias("blk"),
    )
    pair_keys = spark.createDataFrame(
        [(p, q) for p in range(blocks) for q in range(p, blocks)], "p int, q int"
    )
    tagged = e.join(
        F.broadcast(pair_keys),
        (F.col("blk") == F.col("p")) | (F.col("blk") == F.col("q")),
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        p, q = int(pdf["p"].iloc[0]), int(pdf["q"].iloc[0])
        side_a = pdf[pdf["blk"] == p]
        side_b = pdf[pdf["blk"] == q]
        if side_a.empty or side_b.empty:
            return pd.DataFrame({"i": [], "j": [], "cos": []}).astype(
                {"i": "int64", "j": "int64", "cos": "float64"}
            )
        ia = side_a["id"].to_numpy()
        ib = side_b["id"].to_numpy()
        ma = np.stack(side_a["v"].to_numpy())
        mb = np.stack(side_b["v"].to_numpy())
        dim = ma.shape[1]
        # dimension-order accumulation == the left-fold dot product
        dots = np.zeros((len(ia), len(ib)))
        na = np.zeros(len(ia))
        nb = np.zeros(len(ib))
        for d in range(dim):
            dots += ma[:, d : d + 1] * mb[None, :, d]
            na += ma[:, d] * ma[:, d]
            nb += mb[:, d] * mb[:, d]
        cos = dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
        keep = cos >= threshold
        if p == q:
            # same block on both sides: triangle only
            keep &= ia[:, None] < ib[None, :]
        ii, jj = np.nonzero(keep)
        c = cos[ii, jj]
        # HALF_UP away from zero, matching F.round / DuckDB round —
        # np.round is half-to-even and can disagree at half boundaries
        c6 = np.sign(c) * np.floor(np.abs(c) * 1e6 + 0.5) / 1e6
        # blocks are disjoint for p != q, so each cross pair appears
        # exactly once — orient it as (min, max)
        return pd.DataFrame(
            {
                "i": np.minimum(ia[ii], ib[jj]),
                "j": np.maximum(ia[ii], ib[jj]),
                "cos": c6,
            }
        )

    return tagged.groupBy("p", "q").applyInPandas(
        score, "i long, j long, cos double"
    )
