"""Training-data pipeline composition operators: deterministic
stratified sampling and concat-and-chunk sequence packing.

No reference counterpart (the reference is an SPJ engine,
``/root/reference/src/qp/operators/OpType.java:9-15``) — this is the
north-star extension surface: the two ops that turn a cleaned corpus
into a training mix.

Scale design:

- **Sampling** is a map-only filter: keep a row iff a 60-bit md5-hash
  of its id lands under the stratum's rate threshold. Deterministic
  (same seed → same sample at any parallelism), exactly reproducible
  in the DuckDB oracle via the same hex→int trick used by MinHash,
  and requires no count/shuffle — at 100 TB the sample IS the scan.
- **Decontamination** is the benchmark-overlap gate every serious
  pretraining pipeline runs (the GPT-3/PaLM n-gram check): the
  benchmark side is tiny relative to the corpus, so its distinct
  shingle set broadcasts and the corpus is one map-side explode +
  partial-aggregated groupBy — the 100 TB side never shuffles its
  text, only (id, hit) rows.
- **Packing** mirrors what LLM pretraining actually does: documents
  are concatenated in a fixed order and split into ``max_tokens``
  context windows. A single global order would serialize the cumsum,
  so docs are first sharded by id-hash; each shard packs
  independently (one window-sort per shard, all shards in parallel —
  the shard is the unit a trainer reads). Output maps every doc to
  its shard-local token offset and first/last context-window index.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SAMPLE_SCALE = 1_000_000  # rate resolution: 1e-6


def hash_unit(col: Column, seed: int) -> Column:
    """Uniform value in [0, SAMPLE_SCALE) from a 60-bit md5 prefix —
    the engine-portable hash (DuckDB mirror:
    ``('0x' || substr(md5(...), 1, 15))::BIGINT % scale``)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", col.cast("string"), F.lit(seed))), 1, 15),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(SAMPLE_SCALE))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: dict[str, float],
    seed: int = 17,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically:
    P(keep) = rates[stratum], decided by id-hash — no RNG state, no
    shuffle, stable across retries/partitionings (a distributed
    trainer can re-derive exactly which docs are in the mix). A
    stratum missing from ``rates`` keeps nothing."""
    u = hash_unit(F.col(id_col), seed)
    expr = F.lit(None).cast("int")
    for k, v in sorted(rates.items()):
        cond = F.col(stratum_col) == k
        expr = F.when(cond, int(v * SAMPLE_SCALE)).otherwise(expr)
    return df.filter(u < F.coalesce(expr, F.lit(0)))


def _bloom_hash(s: Column, i: int) -> Column:
    """i-th bloom hash of a shingle: an independently-salted xxhash64.
    k separate hashes (not double hashing h1 + i*h2) because ANSI mode
    rejects the wrapping add/multiply that scheme needs."""
    return F.xxhash64(F.concat(s, F.lit(f"\x01bloom{i}")))


def _round_bits(n_bits: int) -> int:
    """Bitset sizes round UP to whole bytes — a non-multiple-of-8
    size would index one byte past the bytearray for tail bits (and
    the probe's substr would read past the literal)."""
    return max(8, (n_bits + 7) // 8 * 8)


def _benchmark_bloom(bench_sh: DataFrame, n_bits: int, k: int) -> bytes:
    """Bloom bitset (bytes, LSB-first within each byte) over the
    benchmark shingle set, built from the SAME JVM hashes the probe
    expression computes — so membership has NO false negatives by
    construction.

    Returned as ``bytes`` so the plan embeds ONE BinaryType literal:
    an array<long> literal of the same bitset costs ~8 s of
    per-element py4j calls plus a 16k-child CreateArray analysis
    (measured) — a single binary literal is one call, one node.

    The collect is bounded: a benchmark suite is fixed-size by
    definition (the same reason its distinct shingles are a broadcast
    build side), and k longs per gram is far smaller than the
    broadcast itself.
    """
    # build and probe MUST agree on n_bits (a silent round here with
    # an unrounded probe would modulo into bits that were never set —
    # false negatives); callers round via _round_bits first
    assert n_bits % 8 == 0 and n_bits > 0, "n_bits must be a positive multiple of 8"
    rows = bench_sh.select(
        *[_bloom_hash(F.col("sh"), i).alias(f"h{i}") for i in range(k)]
    ).collect()
    bitset = bytearray(n_bits // 8)
    for r in rows:
        for i in range(k):
            b = r[i] % n_bits  # Python % is non-negative, like F.pmod
            bitset[b >> 3] |= 1 << (b & 7)
    return bytes(bitset)


def _bloom_member(bits: Column, n_bits: int, k: int):
    """Element predicate for ``F.filter``: true iff all k bloom bits
    of the shingle are set. Pure JVM expressions (xxhash64, substr on
    the binary bitset, hex→int, shifts), evaluated per array element
    inside the higher-order filter."""

    def test(s: Column) -> Column:
        cond = F.lit(True)
        for i in range(k):
            b = F.pmod(_bloom_hash(s, i), F.lit(n_bits))
            # the bitset byte: substr on BINARY yields a 1-byte
            # binary; hex + base-16 conv is the JVM-side byte→int
            byte = F.conv(
                F.hex(F.substr(bits, F.shiftright(b, 3).cast("int") + F.lit(1), F.lit(1))),
                16,
                10,
            ).cast("int")
            # shiftright by a COLUMN amount: the SQL builtin accepts
            # it; call_function bypasses the int-literal-only Python
            # signature
            bit = F.call_function(
                "shiftright", byte, b.bitwiseAND(F.lit(7)).cast("int")
            ).bitwiseAND(F.lit(1))
            cond = cond & (bit == F.lit(1))
        return cond

    return test


def benchmark_bloom_bitset(
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bloom_bits: int = 1 << 20,
    bloom_k: int = 4,
) -> bytes:
    """Build the benchmark-shingle bloom bitset ONCE for reuse across
    many :func:`decontaminate` calls (pass it as ``bloom_bitset``).
    Runs a real (small) Spark job: scan + shingle + distinct + k
    hashes + collect over the benchmark side. ``bloom_bits`` rounds up
    to whole bytes."""
    from kaj_query_engine_spark.functions.text import shingle_arrays

    bench_sh = (
        shingle_arrays(benchmark, id_col, text_col, n)
        .select(F.explode("shingles").alias("sh"))
        .distinct()
    )
    return _benchmark_bloom(bench_sh, _round_bits(bloom_bits), bloom_k)


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bloom_bits: int | None = 1 << 20,
    bloom_k: int = 4,
    bloom_bitset: bytes | None = None,
) -> DataFrame:
    """(id, n_shingles, n_hit, contamination) for every training doc
    that shares at least one word n-gram with the benchmark set — the
    eval-contamination report; a pipeline drops (or flags) the hits.

    Shape: the benchmark's distinct shingles are the broadcast build
    side; the train side explodes its (already distinct, so n_hit
    counts distinct grams) shingles map-only and partial-aggregates
    per doc, so only matched (id, gram) rows reach the shuffle. At
    100 TB the train corpus is never re-partitioned and docs with no
    overlap cost nothing past the hash probe.

    Bloom prefilter (``bloom_bits`` is not None, the default): the
    benchmark set's bloom bitset is embedded as a plan literal and
    each doc's shingle array is filtered BEFORE the explode, so only
    probable hits materialize as rows — contamination is rare, so
    this removes ~all of the exploded-row volume (the measured cost
    center) while the exact join afterwards discards the bloom's
    false positives. Results are bit-identical to the exact path:
    bloom membership has no false negatives (build and probe use the
    same JVM hashes), and ``n_shingles`` is taken from the UNfiltered
    array. ``bloom_bits=None`` disables the prefilter.

    .. note:: building the bitset is EAGER — it runs a small Spark
       job over the benchmark side at plan-construction time (the
       literal must exist before the plan does). Repeated callers
       should build once with :func:`benchmark_bloom_bitset` and pass
       ``bloom_bitset=`` (``bloom_bits``/``bloom_k`` must then match
       the build). ``bloom_bits`` rounds up to whole bytes.
    """
    from kaj_query_engine_spark.functions.text import shingle_arrays

    def _sh(df: DataFrame) -> DataFrame:
        return shingle_arrays(df, id_col, text_col, n)

    bench_sh = _sh(benchmark).select(F.explode("shingles").alias("sh")).distinct()
    exploded = F.col("shingles")
    if bloom_bits is not None:
        n_bits = _round_bits(bloom_bits)
        bitset = (
            bloom_bitset
            if bloom_bitset is not None
            else _benchmark_bloom(bench_sh, n_bits, bloom_k)
        )
        exploded = F.filter(
            F.col("shingles"), _bloom_member(F.lit(bitset), n_bits, bloom_k)
        )
    tr = _sh(train).select(
        "id",
        F.size("shingles").alias("n_shingles"),
        F.explode(exploded).alias("sh"),
    )
    return (
        tr.join(F.broadcast(bench_sh), "sh")
        .groupBy("id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .select(
            "id",
            "n_shingles",
            "n_hit",
            (F.col("n_hit") / F.col("n_shingles")).alias("contamination"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    max_tokens: int,
    num_shards: int = 8,
    seed: int = 17,
) -> DataFrame:
    """Concat-and-chunk packing: within each id-hash shard, documents
    are laid end-to-end in id order and cut into ``max_tokens``
    context windows. Adds (shard, offset, first_chunk, last_chunk):
    doc's token span is [offset, offset + tokens) inside its shard's
    stream, chunks = the window indices that span covers.

    One hash-partitioned window sort per shard; shards are
    independent, so parallelism = num_shards (size it to the cluster —
    a trainer consumes shards independently anyway). No driver state,
    no sequential pass over the corpus.
    """
    shard = F.pmod(hash_unit(F.col(id_col), seed + 1), F.lit(num_shards)).cast(
        "int"
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("shard", shard).withColumn(
        "offset", F.sum(tokens_col).over(w) - F.col(tokens_col)
    )
    # pure long division (never a double in the middle) — offsets are
    # non-negative so DIV == floor division on both engines. Callers
    # guarantee tokens >= 1 (a 0-token doc would make last < first).
    return out.withColumn(
        "first_chunk", F.expr(f"offset DIV {max_tokens}")
    ).withColumn(
        "last_chunk",
        F.expr(f"(offset + {tokens_col} - 1) DIV {max_tokens}"),
    )


def chunk_documents(
    df: DataFrame,
    window: int,
    stride: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document sliding-window chunking: each document's
    whitespace tokens are cut into overlapping windows of ``window``
    tokens starting every ``stride`` tokens (overlap = window −
    stride). The pre-training complement of :func:`pack_sequences`:
    packing concatenates SHORT docs up to the context length, chunking
    splits LONG docs down to it while the overlap preserves
    cross-boundary context.

    Chunk i covers tokens [i·stride, i·stride + window); chunks are
    emitted while i·stride < n_tokens, so trailing chunks may be
    short but every token lands in ≥1 chunk and chunk starts are a
    fixed arithmetic grid (a trainer can locate any token's chunks
    without scanning). Output one row per chunk: (id, chunk_idx,
    n_tokens, chunk_n_tokens, chunk_text).

    100 TB design: pure JVM — split + explode(sequence) + slice +
    array_join, whole-stage codegen, NO shuffle of any kind (the plan
    has zero exchanges; parallelism is the scan's). Tokenization is
    the repo-wide single-space rule (``functions.text.tokens``), so
    chunk counts agree with every other token-based operator.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    if stride > window:
        raise ValueError(
            "stride > window would drop tokens between consecutive chunks"
        )
    toks = F.split(F.trim(F.col(text_col)), " ")
    # exact integer ceil(n/stride) — never a double in the middle
    n_chunks = F.expr(
        f"(size(split(trim({text_col}), ' ')) + {stride} - 1) DIV {stride}"
    )
    start = F.col("chunk_idx") * stride  # 0-based token start
    piece = F.slice(F.col("_toks"), start + 1, window)
    return (
        df.select(
            F.col(id_col),
            toks.alias("_toks"),
            F.size(toks).alias("n_tokens"),
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
                "chunk_idx"
            ),
        )
        .select(
            id_col,
            "chunk_idx",
            "n_tokens",
            F.size(piece).alias("chunk_n_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169, "Data
# Selection for Language Models via Importance Resampling") — the
# domain-matching selector every published pretraining mix uses when a
# small high-quality TARGET corpus should steer which raw documents
# make the cut: fit hashed-n-gram bag models p (target) and q (raw),
# weight every raw doc by its likelihood ratio, and importance-SAMPLE
# (not top-k — the noise term keeps diversity) at the computed rates.
#
# Everything here is exact integer fixed point so the whole pipeline —
# likelihood ratios included — hash-matches the DuckDB oracle:
#
# * log2_fp() computes log2(x) in units of 1/1024 with the classic
#   normalize-then-square binary-digit algorithm — integer ops plus
#   one exact power-of-two double scaling, bit-identical across
#   engines (the float-log route is NOT: Spark's java.lang.Math.log
#   and DuckDB's libm differ in the last ulp, and per-doc SUMS of
#   doubles reassociate — the q60/q43 lesson).
# * Per-bucket log-ratios L[b] = log2fp(ct+1) - log2fp(T+B)
#   - log2fp(cs+1) + log2fp(S+B) (Laplace-smoothed) are integers.
# * The Efraimidis-Spirakis exponential race replaces Gumbel noise:
#   keep the k docs MINIMIZING key = log2(-ln u) - log2 w, with u a
#   deterministic md5 hash of the id — and since -ln u is itself
#   (log2fp(M) - log2fp(h+1)) up to the constant ln2 (which shifts
#   every key equally), the key is integer end-to-end.
#
# Scale shape: one gram-count pass per side (map-only explode into a
# B-row partial agg), the B-row log-ratio table collected and embedded
# as a LITERAL array (the q48 bloom-bitset precedent: a bounded
# driver-side pull that turns scoring into a zero-exchange map), then
# scoring is one map-only pass (per-row fold over the doc's grams) and
# the selection a TakeOrderedAndProject top-k — the 100 TB side never
# shuffles its text.
# ---------------------------------------------------------------------

LOG2_FP_BITS = 10  # fractional bits: log2 values in units of 1/1024
_FP_ONE = 1 << LOG2_FP_BITS


def log2_fp_py(x: int) -> int:
    """Driver-side twin of :func:`log2_fp` (used to fold the B-row
    bucket table into a literal): floor-ish log2(x)*1024 for int
    x >= 1 via e = bit_length-1, normalize y to [2^30, 2^31), then
    10 square-and-test steps for the fractional bits."""
    if x < 1:
        raise ValueError("log2_fp_py needs x >= 1")
    e = x.bit_length() - 1
    y = int(float(x) * 2.0 ** (30 - e))  # exact scaling, see log2_fp
    a = 0
    for _ in range(LOG2_FP_BITS):
        s = (y * y) >> 30
        y, a = (s >> 1, a * 2 + 1) if s >= 1 << 31 else (s, a * 2)
    return e * _FP_ONE + a


def log2_fp(x: Column) -> Column:
    """log2(x) in units of 1/1024 for an integer column x >= 1 —
    exact integer algorithm, bit-identical in Spark, DuckDB
    (:func:`dsir_log2fp_sql`) and Python (:func:`log2_fp_py`).

    e = length(bin(x)) - 1; y0 = x scaled into [2^30, 2^31) (the
    scaling multiplies/divides by a power of two: exact in IEEE
    doubles for the multiply side because x then has <= 31
    significant bits, and deterministic on the divide side because
    cast-to-double rounds identically everywhere); then 10 rounds of
    y := y^2 >> 30 (< 2^62, no overflow), emitting a fractional bit
    whenever the square crosses 2. The 10-step loop runs as an
    F.aggregate fold so the expression tree stays LINEAR (a naive
    unrolled chain references y twice per step and blows up 2^10)."""
    e = (F.length(F.bin(x)) - F.lit(1)).cast("long")
    y0 = F.floor(
        x.cast("double") * F.pow(F.lit(2.0), (F.lit(30) - e).cast("double"))
    ).cast("long")

    def step(acc: Column, _z: Column) -> Column:
        y = F.shiftright(acc, 11)
        a = acc % F.lit(2048)
        s = F.shiftright(y * y, 30)
        hi = s >= F.lit(2**31)
        return (
            F.when(hi, F.shiftleft(F.shiftright(s, 1), 11) + a * 2 + 1)
            .otherwise(F.shiftleft(s, 11) + a * 2)
        ).cast("long")

    folded = F.aggregate(
        F.array([F.lit(i) for i in range(LOG2_FP_BITS)]),
        (y0 * F.lit(2048)).cast("long"),
        step,
    )
    return (e * F.lit(_FP_ONE) + folded % F.lit(2048)).cast("long")


def dsir_log2fp_sql(x: str) -> str:
    """DuckDB twin of :func:`log2_fp` as a SQL fragment over column
    expression ``x`` (pass a simple column reference — the fragment
    references it several times). The 10-step loop runs inside
    list_reduce with a (y, frac) accumulator PACKED into one BIGINT
    (y*2048 + frac: y < 2^31, frac < 2^11) because list_reduce's
    accumulator must match the element type — and, like the XXH64
    twin's MATERIALIZED chain, keeps the planner's expression tree
    linear instead of multiplicatively inlined."""
    step = (
        "CASE WHEN ((acc // 2048) * (acc // 2048)) // 1073741824 "
        ">= 2147483648 THEN "
        "((((acc // 2048) * (acc // 2048)) // 1073741824) // 2) * 2048 "
        "+ (acc % 2048) * 2 + 1 "
        "ELSE (((acc // 2048) * (acc // 2048)) // 1073741824) * 2048 "
        "+ (acc % 2048) * 2 END"
    )
    e = f"(length(bin(CAST({x} AS BIGINT))) - 1)"
    y0 = f"CAST(FLOOR(CAST({x} AS DOUBLE) * POW(2.0, 30 - {e})) AS BIGINT)"
    folded = (
        f"list_reduce(list_prepend({y0} * 2048, "
        f"[0,0,0,0,0,0,0,0,0,0]), (acc, z) -> {step})"
    )
    return f"({e} * 1024 + {folded} % 2048)"


def _grams_expr(text_col: str) -> Column:
    """Unigrams + word bigrams of the whitespace tokens — the DSIR
    feature space (the paper hashes unigrams+bigrams). Mirrors the
    oracle's ``list_concat(t, list_transform(range(1, len(t)),
    i -> t[i] || ' ' || t[i+1]))``."""
    toks = F.split(F.trim(F.col(text_col)), " ")
    n = F.size(toks)
    # zip_with over two slices, NOT transform-with-element_at: a
    # lambda body re-evaluates free expressions per ELEMENT, so
    # element_at(split(...), i) re-tokenized the doc per bigram —
    # O(tokens^2) per doc, measured as a flat ~2.5 s floor on every
    # sf0.1 gram pass; zip_with binds both slice arrays once per row
    big = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.concat(toks, big)


def _gram_bucket(g: Column, n_buckets: int) -> Column:
    """Feature-hash a gram to [0, n_buckets): 60-bit md5 prefix mod B
    — the engine-portable hash (DuckDB:
    ``('0x' || substr(md5(g), 1, 15))::BIGINT % B``, non-negative on
    both sides because the 60-bit prefix is)."""
    h = F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(n_buckets))


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Deliberate hash exchange before the md5-per-gram compute — the
    q40/q93 small-input/large-compute pattern: a fixture-sized parquet
    arrives as a SINGLE scan partition, which would serialize the
    hashing onto one core. CONDITIONAL (round 14): it fires only when
    the source file count is below cluster parallelism — at 100 TB
    the scan has thousands of files and an unconditional repartition
    would shuffle the corpus text for nothing (results never depend
    on it: counts and per-row folds are partitioning-invariant).
    ``inputFiles()`` is the probe because it only walks the logical
    plan (~40 ms); ``df.rdd.getNumPartitions()`` forces an extra full
    physical-plan compile per call (measured +0.6 s warm on q43's
    DSIR frames). File count undercounts split parallelism for
    few-huge-file layouts — the false-fire there costs one exchange a
    map-heavy pass can absorb, the miss at fixture scale would
    serialize the whole compute on one core."""
    sc = df.sparkSession.sparkContext
    if len(df.inputFiles()) >= sc.defaultParallelism:
        return df
    return df.repartition(F.col(id_col))


def dsir_bucket_counts(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int = 256
) -> dict[int, int]:
    """One side's DSIR model: hashed-gram occurrence counts per
    bucket — a map-only explode into a B-row partial agg, pulled to
    the driver (B longs, bounded). This is the build-once artifact a
    deployment persists beside the corpus; counts are algebraic, so a
    landed batch's counts add into it bucket by bucket."""
    # explode the gram EXPRESSION inline: Generate over a projected
    # array attribute measured ~7x slower than Generate over the
    # expression (the array round-trips through an UnsafeRow), and
    # keeping one select keeps the md5 compute in the post-exchange
    # stage
    g = _spread(df, id_col).select(
        F.explode(_grams_expr(text_col)).alias("g")
    )
    b = _gram_bucket(F.col("g"), n_buckets)
    return {
        r.b: r.n
        for r in g.groupBy(b.alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def dsir_split_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    n_buckets: int = 256,
) -> tuple[dict[int, int], dict[int, int]]:
    """Both DSIR models — (target_counts, corpus_counts) — in ONE
    corpus pass, for the common shape where the target is a SPLIT of
    the same frame (``is_target`` a boolean expression over its
    columns): one explode, one partial agg keyed (side, bucket), one
    bounded pull. Exactly equal to two :func:`dsir_bucket_counts`
    calls over the filtered frames, at half the scans (pinned)."""
    g = _spread(df, id_col).select(
        is_target.alias("_t"),
        F.explode(_grams_expr(text_col)).alias("g"),
    )
    b = _gram_bucket(F.col("g"), n_buckets)
    ct: dict[int, int] = {}
    cs: dict[int, int] = {}
    for r in (
        g.groupBy("_t", b.alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        (ct if r._t else cs)[r.b] = r.n
    return ct, cs


def dsir_importance_resample(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int,
    n_buckets: int = 256,
    noise_bits: int = 20,
    seed: int = 29,
    target_counts: dict[int, int] | None = None,
    corpus_counts: dict[int, int] | None = None,
) -> DataFrame:
    """Select ``k`` docs from ``corpus`` whose hashed-n-gram profile
    matches ``target``, by DSIR importance resampling (Xie et al.
    2023). Returns (id, lw, key) for the selected docs — ``lw`` is
    the fixed-point log2 likelihood ratio (units 1/1024; bigger =
    more target-like), ``key`` the exponential-race sort key the
    selection minimized (kept so the selection is auditable).

    Two bounded aggregations fit the models (B-row gram-bucket counts
    per side); the B-row smoothed log-ratio table folds into a
    LITERAL array on the driver (bounded pull, q48-bitset precedent);
    scoring is then a map-only per-row fold over each doc's grams and
    the selection one TakeOrderedAndProject — no shuffle ever carries
    text. Ties on key break by id: fully deterministic.

    **100 TB amortization knobs** (the semantic_dedup ``assigned=``
    pattern): bucket-count models are tiny (B longs), ALGEBRAIC
    (counts sum), and independent of ``k``/``seed`` — a deployment
    builds them once beside the corpus with :func:`dsir_bucket_counts`,
    adds each landed batch's counts per bucket (merged == rebuilt
    exactly), and INJECTS them via ``target_counts``/``corpus_counts`` so a
    resample run is scoring + top-k only — zero count passes. When
    injecting ``corpus_counts``, they must describe the FULL corpus
    the ``corpus`` frame presents (the smoothed q-model denominator
    is the count total)."""
    if k < 1 or n_buckets < 2:
        raise ValueError("k >= 1 and n_buckets >= 2 required")
    ct = (
        target_counts
        if target_counts is not None
        else dsir_bucket_counts(target, id_col, text_col, n_buckets)
    )
    cs = (
        corpus_counts
        if corpus_counts is not None
        else dsir_bucket_counts(corpus, id_col, text_col, n_buckets)
    )
    if any(b < 0 or b >= n_buckets for b in (*ct, *cs)):
        raise ValueError("injected counts hold an out-of-range bucket")
    t_tot, s_tot = sum(ct.values()), sum(cs.values())
    lf_t, lf_s = log2_fp_py(t_tot + n_buckets), log2_fp_py(s_tot + n_buckets)
    lrt = [
        log2_fp_py(ct.get(i, 0) + 1)
        - lf_t
        - log2_fp_py(cs.get(i, 0) + 1)
        + lf_s
        for i in range(n_buckets)
    ]
    # ONE ArrayType Literal node, not F.array of 256 F.lit children:
    # higher-order lambdas run interpreted, and an interpreted
    # element_at over a 256-child CreateArray re-evaluates every
    # child PER GRAM (measured ~3 s of the scoring pass at sf0.1);
    # a single Literal is one node, one lookup
    l_lit = F.lit([int(v) for v in lrt]).cast("array<long>")
    # same deliberate spread before the md5-per-gram scoring fold —
    # a single-partition fixture scan would serialize it (see _spread);
    # the fold consumes the gram EXPRESSION inline for the same
    # no-UnsafeRow-round-trip reason as the counts path
    scored = _spread(corpus, id_col).select(
        F.col(id_col).alias("id"),
        F.aggregate(
            _grams_expr(text_col),
            F.lit(0).cast("long"),
            lambda acc, g: acc
            + F.element_at(l_lit, (_gram_bucket(g, n_buckets) + 1).cast("int")),
        ).alias("lw"),
    )
    m = 1 << noise_bits
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("id").cast("string"), F.lit(seed)
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(m),
    )
    v = F.lit(noise_bits * _FP_ONE) - log2_fp(h + 1)
    keyed = scored.select(
        "id", "lw", (log2_fp(v + 1) - F.col("lw")).alias("key")
    )
    return keyed.orderBy("key", "id").limit(k)


# ---------------------------------------------------------------------
# CCNet-style LM perplexity scoring (Wenzek et al. 2020,
# arXiv:1911.00359 — the published quality filter between rule gates
# and model classifiers: score every document by a language model
# trained on a CLEAN split, then keep the low-perplexity head/middle).
# The LM here is a hashed BIGRAM model — unigram and bigram occurrence
# counts feature-hashed into B buckets (the DSIR trick applied to LM
# smoothing), with add-one smoothing P(w_i | w_{i-1}) =
# (c2[b(w_{i-1} w_i)] + 1) / (c1[b(w_{i-1})] + B) — so
# -log2 P = log2fp(c1 + B) - log2fp(c2 + 1), exact integer fixed
# point, and the whole score hash-matches the DuckDB oracle. Hash
# collisions make it an approximation of a true bigram LM (they can
# even make a pair's -log2 P locally negative when many distinct
# bigrams share a bucket); that is the documented trade the fixed
# B-bucket model buys for a bounded, broadcastable artifact.
#
# Scale shape mirrors DSIR: the model is TWO B-long count tables
# (build once on the clean split, algebraic — batch counts add per
# bucket), folded into literal log-arrays on the driver;
# scoring is a map-only per-row fold — the corpus never shuffles.
# ---------------------------------------------------------------------


def lm_bigram_counts(
    lm_corpus: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 1024,
) -> tuple[dict[int, int], dict[int, int]]:
    """Train the hashed bigram LM: (unigram_counts, bigram_counts)
    bucket dicts over the clean split, in ONE tagged pass (one
    explode, one partial agg keyed (kind, bucket), one bounded
    pull). Counts are algebraic: a batch's counts add per bucket,
    exactly like the DSIR models."""
    toks = F.split(F.trim(F.col(text_col)), " ")
    n = F.size(toks)
    uni = F.transform(
        toks, lambda t: F.struct(F.lit("u").alias("k"), t.alias("s"))
    )
    big = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(
            F.lit("b").alias("k"), F.concat_ws(" ", a, b).alias("s")
        ),
    )
    g = _spread(lm_corpus, id_col).select(
        F.explode(F.concat(uni, big)).alias("e")
    )
    cu: dict[int, int] = {}
    cb: dict[int, int] = {}
    for r in (
        g.select(
            F.col("e.k").alias("k"),
            _gram_bucket(F.col("e.s"), n_buckets).alias("b"),
        )
        .groupBy("k", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        (cu if r.k == "u" else cb)[r.b] = r.n
    return cu, cb


def lm_bpt_expr(
    text_col: str,
    unigram_counts: dict[int, int],
    bigram_counts: dict[int, int],
    n_buckets: int = 1024,
) -> Column:
    """Per-row LM score: negative log2 likelihood PER TOKEN
    TRANSITION in 1/1024 units ("milli-bits-per-token"), NULL for
    docs with fewer than two tokens. The count tables fold into two
    single-Literal log arrays on the driver (log2fp(c1+B) and
    log2fp(c2+1) precomputed in Python — the scoring lambda is then
    two array lookups and a subtraction per pair), so the expression
    is a map-only JVM fold: no join, no shuffle, composable into any
    one-scan profile (q40)."""
    lcu = F.lit(
        [
            log2_fp_py(unigram_counts.get(i, 0) + n_buckets)
            for i in range(n_buckets)
        ]
    ).cast("array<long>")
    lcb = F.lit(
        [
            log2_fp_py(bigram_counts.get(i, 0) + 1)
            for i in range(n_buckets)
        ]
    ).cast("array<long>")
    toks = F.split(F.trim(F.col(text_col)), " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.element_at(
            lcu, (_gram_bucket(a, n_buckets) + 1).cast("int")
        )
        - F.element_at(
            lcb,
            (
                _gram_bucket(F.concat_ws(" ", a, b), n_buckets) + 1
            ).cast("int"),
        ),
    )
    total = F.aggregate(
        pairs, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    # exact integer mean bits-per-transition: floor(total / (n-1)) —
    # total < 2^40, so the double division is exact-for-floor and
    # identical in both engines
    return F.when(
        n >= 2,
        F.floor(total.cast("double") / (n - 1).cast("double")).cast(
            "long"
        ),
    )


def lm_bpt_sql(
    table: str,
    id_col: str,
    text_col: str,
    lm_filter: str,
    n_buckets: int = 1024,
) -> str:
    """DuckDB twin of train + score as CTE fragments: returns a
    fragment (to splice after WITH) whose final CTE ``lmscore`` has
    (id, lm_bpt) for EVERY row of ``table`` — the model trained on
    the rows whose ``id`` satisfies ``lm_filter`` (an expression over
    the column ``id``). Counts are computed in SQL (the oracle cannot
    receive the driver's dicts); every log2fp argument is staged as a
    simple column first and multi-referenced CTEs MATERIALIZE."""
    lf = dsir_log2fp_sql
    toks = f"string_split(trim({text_col}), ' ')"

    def bucket(expr: str) -> str:
        return (
            f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT "
            f"% {n_buckets})"
        )

    bu = bucket("t[i]")
    bb = bucket("t[i] || ' ' || t[i+1]")
    btok = bucket("tok")
    return (
        f"lmt AS (SELECT {id_col} AS id, {toks} AS t FROM {table}), "
        # one row per token TRANSITION, for every doc
        f"lmp AS MATERIALIZED (SELECT id, {bu} AS bu, {bb} AS bb "
        "FROM lmt, unnest(range(1, len(t))) AS u(i)), "
        # unigram model: EVERY token of the LM split (the training
        # pass counts the last token too, though it starts no
        # transition — mirror it exactly)
        f"lmu AS (SELECT {btok} AS b FROM "
        f"(SELECT id, unnest(t) AS tok FROM lmt) WHERE {lm_filter}), "
        "lmc1 AS (SELECT b, count(*) AS c FROM lmu GROUP BY 1), "
        f"lmc2 AS (SELECT bb AS b, count(*) AS c FROM lmp "
        f"WHERE {lm_filter} GROUP BY 1), "
        "lmpre AS (SELECT id, "
        f"COALESCE(u.c, 0) + {n_buckets} AS cu1, "
        "COALESCE(b2.c, 0) + 1 AS cb1 FROM lmp "
        "LEFT JOIN lmc1 u ON lmp.bu = u.b "
        "LEFT JOIN lmc2 b2 ON lmp.bb = b2.b), "
        f"lmnl AS (SELECT id, {lf('cu1')} - {lf('cb1')} AS nl "
        "FROM lmpre), "
        "lmscore AS (SELECT id, CAST(FLOOR(CAST(sum(nl) AS DOUBLE) / "
        "count(*)) AS BIGINT) AS lm_bpt FROM lmnl GROUP BY 1)"
    )
