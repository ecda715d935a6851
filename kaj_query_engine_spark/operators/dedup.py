"""Deduplication operators for training-data pipelines.

Four families, all pure DataFrame compositions (no Python UDFs — every
hash is ``F.md5``, JVM-side), designed shuffle-minimal for 100 TB:

- **exact**: hash-groupBy on a content fingerprint. One shuffle on the
  16-byte digest; partial aggregation halves it map-side.
- **MinHash + LSH**: shingle → K minhashes → B bands → bucket-join.
  Shuffles are on doc_id (signature build) and band-key (candidate
  join); no all-pairs comparison ever materializes. Band buckets are
  the classic LSH trade: P(candidate) ≈ 1-(1-j^R)^B.
- **SimHash**: 32-bit fingerprint via per-bit majority vote over token
  hashes; near-dups share the fingerprint (or differ in few bits).
  One explode + one groupBy(doc) — linear, no joins.
- **n-gram Jaccard**: exact verification via a shingle inverted index
  self-join — quadratic only within shared-shingle buckets; used to
  verify LSH candidates or alone at moderate scale.

MinHash hashes each shingle ONCE (md5 → top 60 bits as int64) and
derives the K hash functions as XOR permutations with fixed salts:
h_k(s) = base(s) XOR salt_k. One md5 per shingle instead of K — the
md5 dominates the cost — and still engine-portable bit-for-bit
(Spark ``conv(substring(md5,1,15),16,10)`` == DuckDB
``('0x' || substr(md5,1,15))::BIGINT``; XOR matches on int64).

No counterpart in the reference engine — north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kaj_query_engine_spark.functions.text import (
    doc_fingerprint,
    shingles_of_tokens,
    tokens,
)
from kaj_query_engine_spark.session import broadcast_threshold_bytes


# LSH defaults: 12 hashes = 4 bands x 3 rows → candidate threshold
# (1/B)^(1/R) ≈ 0.63 Jaccard.
NUM_HASHES = 12
NUM_BANDS = 4
ROWS_PER_BAND = 3
# junk-cluster guard: an LSH bucket wider than this is boilerplate
# (empty docs, licence headers), and its C(w,2) pairs would dominate
# the pair explosion — drop the whole bucket instead of pairing it
MAX_BUCKET = 64
# tripwire for the exact inverted-index verifier: a shingle shared by
# more documents than this means the corpus's vocabulary is saturating
# and ngram_jaccard_pairs' Σ|bucket|² term is about to go quadratic —
# fail loudly (executor-side raise_error, zero extra jobs) and point
# at the LSH-candidates + verify_candidate_pairs composition instead
DF_BUDGET = 256


def _bucket_pairs():
    """All (d1 < d2) pairs from the ``ids`` array column of bucket
    members — the JVM expression shared by the LSH and inverted-index
    candidate generators (one definition so the pair semantics stay in
    sync)."""
    return F.explode(
        F.expr(
            "filter(flatten(transform(ids, x -> transform(ids, "
            "y -> struct(x AS d1, y AS d2)))), p -> p.d1 < p.d2)"
        )
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (casefolded, space-collapsed) docs.
    Returns (fingerprint h, n copies, keep_id = min id)."""
    return (
        df.select(
            doc_fingerprint(F.col(text_col)).alias("h"), F.col(id_col).alias("id")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.min("id").alias("keep_id"))
    )


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Exploded (id, shingle) pairs, distinct per doc.

    The input is repartitioned by id first: documents are a
    small-input / large-compute shape (the explode multiplies rows
    10–50×), so spreading BEFORE the explode keeps every core busy and
    shuffles raw docs instead of shingles — and the downstream
    ``groupBy(id)`` reuses the hash partitioning, so no second
    exchange of the exploded data. The partition count is pinned to
    max(cluster parallelism, input file count): AQE would otherwise
    coalesce the tiny-bytes shuffle to one partition and serialize
    the compute, while the file-count floor keeps a 100 TB corpus
    (far more splits than cores) from being squeezed DOWN to core
    count and ballooning per-task explode output. ``inputFiles()`` is
    a file-index listing — cheap, and unlike ``df.rdd`` it neither
    materializes the physical plan nor reports the shuffle-partition
    count (200 on a vanilla session) for post-shuffle inputs.
    """
    sc = df.sparkSession.sparkContext
    try:
        n_input = len(df.inputFiles())
    except Exception:
        n_input = 0
    n_parts = max(sc.defaultParallelism, n_input)
    return (
        df.repartition(n_parts, F.col(id_col))
        # tokens materialize as a column BEFORE the shingle lambda:
        # higher-order transforms run interpreted, so an inlined split
        # would re-run once per gram (~10x on 50-token docs)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
        .select("id", F.explode(shingles_of_tokens(F.col("toks"), n)).alias("sh"))
    )


MINHASH_SALT_SEED = 13


def minhash_salts(num_hashes: int = NUM_HASHES) -> list[int]:
    """Fixed 60-bit XOR salts (same literals are embedded in the
    DuckDB oracle SQL)."""
    import random

    rng = random.Random(MINHASH_SALT_SEED)
    return [rng.getrandbits(60) for _ in range(num_hashes)]


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, s0..s{K-1}) int64 minhash signature per document.

    One explode + ONE md5 per shingle (K hashes derived by XOR salt) +
    one groupBy(id) with K min-aggregates — partial aggregation keeps
    the shuffle at |docs| x K longs regardless of document length.
    """
    sh = shingle_table(df, id_col, text_col)
    base = F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
    aggs = [
        F.min(base.bitwiseXOR(F.lit(salt))).alias(f"s{k}")
        for k, salt in enumerate(minhash_salts())
    ]
    return sh.groupBy("id").agg(*aggs)


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Melt signatures into (id, band, key): key = md5 of the band's
    signature slice."""
    band_cols = []
    for b in range(NUM_BANDS):
        parts = [F.col(f"s{b * ROWS_PER_BAND + j}") for j in range(ROWS_PER_BAND)]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"b{b}"))
    with_bands = sigs.select("id", *band_cols)
    stack = ", ".join(f"{b}, b{b}" for b in range(NUM_BANDS))
    return with_bands.select(
        "id", F.expr(f"stack({NUM_BANDS}, {stack}) AS (band, key)")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_bucket: int | None = MAX_BUCKET,
) -> DataFrame:
    """Distinct candidate near-duplicate pairs (d1 < d2) sharing at
    least one LSH band bucket no wider than ``max_bucket``.

    The pair join shuffles on (band, key) only; a hot bucket (skewed
    key) is handled by AQE skew-join splitting. The ``max_bucket`` cap
    is the junk-cluster guard: a bucket of width w generates C(w,2)
    pairs, so one boilerplate bucket of 10^6 docs would emit 5*10^11
    pairs — dropping over-wide buckets keeps the output linear in the
    number of *real* near-dup groups. ``None`` disables the cap (the
    exhaustive-verification mode).
    """
    bands = lsh_bands(minhash_signatures(df, id_col, text_col))
    # bucket-collect instead of a self-join: a self-join recomputes the
    # whole signature pipeline for each side (no ReusedExchange across
    # the join), while collect_list computes it ONCE and generates the
    # in-bucket pairs with a JVM array expression. collect_list still
    # materializes a junk bucket's id array (8 bytes/doc — 8 MB for a
    # 10^6-doc bucket, fine), but the cap stops the C(w,2) explosion
    # that follows it.
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    return (
        buckets.select(_bucket_pairs().alias("p"))
        .select("p.d1", "p.d2")
        .distinct()
    )


def band_bucket_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-side LSH band-bucket index for INCREMENTAL dedup:
    (band, key, ids, w) — one row per occupied bucket, ids sorted for
    determinism. A new batch of documents can then be deduped against
    the corpus without recomputing a single corpus shingle
    (:func:`incremental_lsh_candidates`).

    Over-wide buckets (w > MAX_BUCKET — boilerplate/junk clusters) are
    kept as TOMBSTONES: ``ids`` is nulled but ``w`` is recorded. The
    cap is defined on the bucket's *combined* width, and a bucket that
    is already junk corpus-side can only grow — so its member ids are
    dead weight — but silently dropping the row would make the bucket
    look EMPTY to a later batch, and two new docs landing in it would
    pair up even though the full-corpus run would have dropped them.
    Single-member buckets are kept (a future batch doc may land there).

    Index size is one row per occupied bucket (≤ B rows per doc),
    independent of document length — ~32 bytes + 8·w per row.
    """
    bands = lsh_bands(minhash_signatures(df, id_col, text_col))
    w = F.size("ids")
    return (
        bands.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .select(
            "band",
            "key",
            F.when(w <= MAX_BUCKET, F.col("ids")).alias("ids"),
            w.alias("w"),
        )
    )


def merge_band_index(
    index: DataFrame, batch: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Admit a batch into an existing :func:`band_bucket_index`
    WITHOUT rebuilding it: returns the index of ``old ∪ batch``
    (equality with a from-scratch build is differentially pinned in
    tests). The last step of the ingest lifecycle — probe
    (:func:`incremental_lsh_candidates`), drop dups, merge survivors
    in; the next batch probes the merged index.

    Shuffle shape: ONE full-outer equi-join on (band, key). The
    corpus-side cost is a shuffle of index ROWS (≈32 B + 8·w each),
    never a recompute of corpus signatures — and with the index
    parquet bucketed by its join key the exchange drops out entirely.
    Buckets whose merged width exceeds the cap become (or stay)
    tombstones: width is always additive, ids are kept only while the
    bucket is alive, so junk never accumulates bytes.
    """
    nb = lsh_bands(minhash_signatures(batch, id_col, text_col))
    add = nb.groupBy("band", "key").agg(
        F.array_sort(F.collect_list("id")).alias("new_ids")
    )
    id_type = add.schema["new_ids"].dataType
    merged_w = F.coalesce(F.col("w"), F.lit(0)) + F.coalesce(
        F.size("new_ids"), F.lit(0)
    )
    # a tombstoned old bucket (ids NULL, w > cap) must stay dead even
    # though the merged array below would only hold the new ids
    alive = (merged_w <= MAX_BUCKET) & (
        F.col("w").isNull() | F.col("ids").isNotNull()
    )
    merged_ids = F.array_sort(
        F.concat(
            F.coalesce(F.col("ids"), F.array().cast(id_type)),
            F.coalesce(F.col("new_ids"), F.array().cast(id_type)),
        )
    )
    return index.join(add, ["band", "key"], "full_outer").select(
        "band",
        "key",
        F.when(alive, merged_ids).alias("ids"),
        merged_w.alias("w"),
    )


def incremental_lsh_candidates(
    index: DataFrame, batch: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Candidate near-dup pairs for an INCOMING batch against an
    existing corpus, given the corpus's :func:`band_bucket_index` —
    the "new crawl arrives" path. Emits every candidate pair involving
    at least one batch doc (batch×corpus and batch×batch), and is
    EXACTLY ``minhash_lsh_candidates(old ∪ batch)`` restricted to
    those pairs (differentially pinned in tests): signatures are
    per-document, bucket membership is the union of index ids and
    batch ids, and the junk cap applies to the combined width (the
    tombstone rows make over-wide corpus buckets visible without
    storing their ids).

    Shuffle inventory at 100 TB: the corpus index is scanned ONCE,
    map-only — its join key set (the batch's band keys) is broadcast,
    so no corpus-sized shuffle exists anywhere; everything after the
    probe join is bounded by the batch size. Corpus compute (md5 over
    every shingle — the dominant cost of a from-scratch run) is never
    repeated. The probe's build side is the batch bucket table —
    bounded per ingest like ANN query sets, so the explicit broadcast
    cannot grow with the corpus.
    """
    nb = lsh_bands(minhash_signatures(batch, id_col, text_col))
    # the batch bucket table feeds TWO subtrees (the broadcast key
    # probe and the left join's stream side); without materialization
    # the whole batch shingle→signature pipeline runs twice per action.
    # localCheckpoint is safe here because the table is batch-bounded
    # (the same reason its broadcast is) — measured 2.4 s → 1.1 s warm
    # on the q51 'incr' branch at sf0.1. Known trade (the CC-loop
    # precedent): the EAGER materialization runs batch-sized jobs at
    # plan-BUILD time (an EXPLAIN of this operator computes the batch
    # buckets), and the checkpoint blocks live until the ContextCleaner
    # collects the dropped DataFrame — bounded by batch size per call,
    # but a tight many-batch loop should hold few of these at once
    newb = (
        nb.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("id")).alias("new_ids"))
        .localCheckpoint(eager=True)
    )
    # ONE corpus pass: semi-probe the index with the batch's keys
    # (broadcast — bounded by batch size), producing a HIT table no
    # larger than the batch bucket table; the left join that attaches
    # old_ids/w to each batch bucket is then tiny-vs-tiny
    hits = index.join(F.broadcast(newb.select("band", "key")), ["band", "key"])
    # hits is explicitly broadcast too: it is no larger than the batch
    # bucket table (semi-probed by its keys), but its left-join partner
    # is the checkpointed batch RDD, whose UNKNOWN stats would
    # otherwise default the planner to a sort-merge join
    combined = newb.join(F.broadcast(hits), ["band", "key"], "left")
    id_type = newb.schema["new_ids"].dataType
    old_ids = F.coalesce(F.col("ids"), F.array().cast(id_type))
    w_comb = F.size("new_ids") + F.coalesce(F.col("w"), F.lit(0))
    pairs_arr = F.concat(
        F.expr(
            "filter(flatten(transform(new_ids, x -> transform(new_ids, "
            "y -> struct(x AS d1, y AS d2)))), p -> p.d1 < p.d2)"
        ),
        F.expr(
            "filter(flatten(transform(new_ids, x -> transform(_old_ids, "
            "y -> struct(least(x, y) AS d1, greatest(x, y) AS d2)))), "
            "p -> p.d1 < p.d2)"
        ),
    )
    # a tombstone is dead whatever width it records: its ids were
    # discarded at capping, so an index whose stored width sits at or
    # under the cap (edited outside this module) must not revive it
    not_tombstone = F.col("w").isNull() | F.col("ids").isNotNull()
    return (
        combined.withColumn("_old_ids", old_ids)
        .filter((w_comb <= MAX_BUCKET) & not_tombstone)
        .select(F.explode(pairs_arr).alias("p"))
        .select("p.d1", "p.d2")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.4,
    max_df: int | None = None,
    df_budget: int | None = DF_BUDGET,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle inverted index:
    (d1, d2, jaccard) with jaccard >= threshold.

    The pair explosion is quadratic WITHIN shared-shingle buckets —
    Σ|bucket|² — so on a vocabulary-saturating corpus (bucket widths
    grow with N) the whole-corpus path reads above-linear (measured
    e=1.32 at 16×, PERF.md). The 100 TB composition replaces it with
    ``minhash_lsh_candidates`` → :func:`verify_candidate_pairs`; this
    operator is the moderate-scale / ground-truth verifier, and two
    guards make that role mechanically hard to violate:

    - ``df_budget`` (default ``DF_BUDGET``): a TRIPWIRE — if any
      shingle's document frequency exceeds it, the job FAILS in the
      executor (``raise_error`` inside the single bucket-collect pass:
      zero extra jobs, no driver-side pre-count) with a pointer to the
      scale path. Fixture corpora sit far under it (max df 25 at
      sf0.1); a corpus big enough to saturate its vocabulary trips it
      long before the Σ|bucket|² term can dominate a cluster.
    - ``max_df``: opt-in df-cut — shingles with document frequency
      above ``max_df`` are dropped from the universe entirely (both
      the pair counts AND each doc's ``n_sh``), i.e. Jaccard over the
      sub-``max_df`` shingle vocabulary — the standard stopword-cut
      semantics of prefix-filtering similarity joins. Bounds the
      explosion at Σ min(|bucket|, max_df)² and disables the tripwire
      (the cap subsumes it). Oracle-checked as q52's 'capped' branch.
    """
    sh = shingle_table(df, id_col, text_col, n)
    # same bucket-collect shape as the LSH candidate generator; the
    # per-doc n_sh counts come straight from sh (map-side combined
    # (id,1) partials — measured cheaper than re-deriving them by
    # exploding the collected buckets) EXCEPT under max_df, where the
    # reduced universe forces the re-derivation
    buckets = sh.groupBy("sh").agg(F.collect_list("id").alias("ids"))
    w = F.size("ids")
    if max_df is not None:
        # df-cut: counts must cover the REDUCED universe, so n_sh is
        # re-derived by exploding the retained buckets (the filter
        # makes the direct sh.groupBy(id) count wrong here)
        buckets = buckets.filter(w <= max_df)
        counts = (
            buckets.select(F.explode("ids").alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        pair_input = buckets.filter(w > 1)
    elif df_budget is not None:
        # tripwire lives in the pairing FILTER as a boolean branch —
        # never wrap the ids array itself in a CASE (a guard projection
        # over the array column measured ~6× on the 16× probe bracket:
        # it blocks codegen and copies every bucket through the branch)
        trip = F.raise_error(
            F.format_string(
                "ngram_jaccard_pairs: shingle %s appears in %d docs, over "
                f"the df budget of {df_budget} — the Σ|bucket|² pair "
                "explosion is quadratic in that width. At this corpus "
                "size use minhash_lsh_candidates + verify_candidate_pairs "
                "(O(candidates)), or pass max_df= for df-cut semantics.",
                F.col("sh"),
                w,
            )
        ).cast("boolean")
        pair_input = buckets.filter(
            F.when(w > df_budget, trip).otherwise(w > 1)
        )
        counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        pair_input = buckets.filter(w > 1)
        counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        pair_input.select(_bucket_pairs().alias("p"))
        .groupBy("p.d1", "p.d2")
        .agg(F.count(F.lit(1)).alias("common"))
        .select(F.col("d1"), F.col("d2"), "common")
    )
    c1 = counts.select(F.col("id").alias("d1"), F.col("n_sh").alias("n1"))
    c2 = counts.select(F.col("id").alias("d2"), F.col("n_sh").alias("n2"))
    # raw int/int division — a single IEEE op, bit-identical across
    # engines; rounding a clean rational can flip at half-boundaries
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    # NO broadcast hint here: `counts` has one row per corpus document,
    # so at 100 TB it cannot be a build side on the driver/executors.
    # The joins are equi-keyed — AQE picks a shuffled hash join (or
    # broadcasts on its own if runtime stats say the side is small)
    return (
        common.join(c1, "d1")
        .join(c2, "d2")
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def verify_candidate_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given candidate
    pairs: (d1, d2, jaccard) with jaccard >= threshold.

    This is the 100 TB dedup composition: ``minhash_lsh_candidates``
    (sub-quadratic, recall-pinned) proposes pairs, THIS verifies them
    exactly — per-pair cost is two equi-join probes plus one in-memory
    array intersection, so total work is O(candidates), never
    O(corpus²) and never the inverted-index Σ|bucket|² of
    :func:`ngram_jaccard_pairs` (which reads above-linear on corpora
    whose vocabulary saturates — see PERF.md's round-5 probe notes;
    that operator remains the moderate-scale / ground-truth path).

    Jaccard doubles are bit-identical to ngram_jaccard_pairs: the same
    distinct-shingle sets, the same int/int division.
    """
    from kaj_query_engine_spark.functions.text import shingle_arrays

    # shingle ONLY the docs that appear in some candidate pair — the
    # corpus is semi-joined down first, so tokenize/shingle compute is
    # bounded by the candidate set, not corpus size (candidates <<
    # corpus is the whole premise of the composition)
    need = (
        pairs.select(F.col("d1").alias("_need_id"))
        .unionByName(pairs.select(F.col("d2").alias("_need_id")))
        .distinct()
    )
    sh = shingle_arrays(
        df.join(need, F.col(id_col) == F.col("_need_id"), "semi"),
        id_col,
        text_col,
        n,
    )
    a = sh.select(F.col("id").alias("d1"), F.col("shingles").alias("sh1"))
    b = sh.select(F.col("id").alias("d2"), F.col("shingles").alias("sh2"))
    common = F.size(F.array_intersect(F.col("sh1"), F.col("sh2")))
    jac = F.col("common") / (
        F.size(F.col("sh1")) + F.size(F.col("sh2")) - F.col("common")
    )
    return (
        pairs.select("d1", "d2")
        .join(a, "d1")
        .join(b, "d2")
        .withColumn("common", common)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def cluster_duplicates(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over candidate-pair edges → (id, cluster)
    with cluster = min id reachable — the step that turns near-dup
    PAIRS into dedup GROUPS (keep one doc per cluster).

    Partition-local contraction first (Kiveris et al., *Connected
    Components in MapReduce and Beyond*, SoCC 2014), distributed
    rounds only for what it leaves:

    1. a union-find (union by smaller id, path halving) runs over each
       partition's edges inside ``mapInArrow`` and emits (id, root)
       for every node that partition saw, root = the minimum of its
       local component. Worker state is one partition's edges; nothing
       is collected. Arrow batches rather than pandas keep ids
       exact: pandas would turn a nullable int64 column into float64;
    2. one ``groupBy(id)`` merges the partitions — cluster =
       min(root), roots = the node's distinct local roots — behind an
       eager ``localCheckpoint``;
    3. each (root, cluster) with root != cluster is an edge that
       crosses partitions. With none (every edge of a component in one
       partition — the curation batches), cluster is final. Otherwise
       :func:`_min_label_rounds` labels the graph of those edges, whose
       nodes are local roots only, and each node maps through its
       cluster's label.

    The rounds are min-label propagation + pointer doubling, so a
    chain spread over many partitions still converges in
    ≈ log2(diameter) rounds, and ``max_iters`` bounds them.

    Measured Spark jobs (local[4], AQE on): a curation batch's 30
    verified pairs, all in one partition, cluster in 3 jobs (the
    contraction's shuffle, the checkpoint, the cross-edge ``isEmpty``)
    where rounds over every edge took 26: an eager checkpoint and a
    label sum up front, then per round a checkpoint of 8–9 jobs (AQE
    runs each shuffle or broadcast stage of the round's four joins and
    ``groupBy`` as its own job) and a 2-job label sum. Random 200-node
    graphs spread over 4 partitions keep cross edges and take 47–95
    jobs (75–135 with rounds over every edge).

    Ids must order in Python the way Spark's ``min`` orders them:
    true for integral, decimal and string ids (code-point order equals
    UTF-8 binary order).
    """
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    both = pairs.select(F.col("d1").alias("id")).unionByName(
        pairs.select(F.col("d2").alias("id"))
    )
    id_type = both.schema["id"].dataType
    out_schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("root", id_type)]
    )
    arrow_schema = to_arrow_schema(out_schema)

    def contract(batches):
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for batch in batches:
            cols = batch.to_pydict()
            for a, b in zip(cols["d1"], cols["d2"]):
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                if a is None or b is None:
                    continue  # a null endpoint joins no component
                ra, rb = find(a), find(b)
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        ids = list(parent)
        yield pa.RecordBatch.from_pydict(
            {"id": ids, "root": [find(x) for x in ids]}, schema=arrow_schema
        )

    merged = (
        pairs.select(F.col("d1").cast(id_type), F.col("d2").cast(id_type))
        .mapInArrow(contract, out_schema)
        .groupBy("id")
        .agg(F.min("root").alias("cluster"), F.collect_set("root").alias("roots"))
        .localCheckpoint(eager=True)
    )
    cross = (
        merged.select(F.explode("roots").alias("a"), F.col("cluster").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    if cross.isEmpty():
        return merged.select("id", "cluster")
    edges = (
        cross.unionByName(cross.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    try:
        labels = _min_label_rounds(edges, max_iters)
    finally:
        edges.unpersist()
    final = labels.select(
        F.col("id").alias("cluster"), F.col("cluster").alias("final")
    )
    return (
        merged.join(final, "cluster", "left")
        .select("id", F.coalesce("final", "cluster").alias("cluster"))
        .localCheckpoint(eager=True)
    )


def _min_label_rounds(edges: DataFrame, max_iters: int) -> DataFrame:
    """(id, cluster = min id reachable) over symmetric ``edges`` (a, b)
    by iterative min-label propagation + pointer doubling, the
    Pregel-lite DataFrame shape: each round joins labels to the edge
    list and takes the min neighbor label, then shortcuts every label
    through its own label (cluster := cluster(cluster)), so label
    values race toward the component minimum exponentially — rounds ≈
    log2(diameter), not diameter. Raises when ``max_iters`` rounds do
    not converge. The loop only checks a 1-row aggregate — no data is
    collected.

    Each round's labels are materialized behind a ``localCheckpoint``
    (the checkpoint bounds lineage — each round's plan starts from the
    previous round's materialized leaf, so Catalyst analysis stays
    O(1) per round instead of going exponential by round ~8). The
    mid-round propagate frame is NOT checkpointed: the pointer-doubling
    self-join reads it twice, which merely duplicates one cheap in-job
    join subtree while keeping the job count down.

    The convergence test is a 1-row aggregate: labels are
    non-increasing per node (every update is ``least(old, ...)``), so
    the label SUM strictly decreases until fixpoint and "sum unchanged"
    ⟺ "no node changed". DECIMAL(38,0) accumulation keeps the sum
    exact for ~1e12 nodes with 1e12-sized ids (int64 would overflow at
    that scale and a silently wrapped sum could fake convergence). The
    sum witness applies only to exact-numeric id types; string/other
    ids fall back to the join-based changed count rather than trust a
    lossy cast.
    """
    from pyspark.sql import types as T

    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("cluster", F.col("id"))
        .localCheckpoint(eager=True)
    )
    numeric_ids = isinstance(
        edges.schema["a"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType),
    )

    def label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("cluster").cast("decimal(38,0)")).alias("s")
        ).collect()[0].s

    def changed_rows(new: DataFrame, old: DataFrame) -> int:
        return (
            new.alias("n")
            .join(old.alias("o"), "id")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .count()
        )

    prev_sum = label_sum(labels) if numeric_ids else None
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("cluster").alias("nbr_min"))
        )
        propagated = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("cluster"), F.coalesce("nbr_min", F.col("cluster"))
            ).alias("cluster"),
        )
        # pointer doubling: cluster := cluster(cluster). Labels are
        # node ids, so the lookup is a self-join; a chain's labels
        # halve their distance to the component min every round.
        jump = propagated.select(
            F.col("id").alias("jid"), F.col("cluster").alias("jcluster")
        )
        new_labels = (
            propagated.join(jump, propagated.cluster == jump.jid, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce("jcluster", F.col("cluster"))
                ).alias("cluster"),
            )
            .localCheckpoint(eager=True)
        )
        if numeric_ids:
            new_sum = label_sum(new_labels)
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = changed_rows(new_labels, labels) == 0
        labels = new_labels
        if converged:
            return labels
    raise RuntimeError(
        f"cluster_duplicates did not converge in {max_iters} rounds "
        "(component diameter exceeds max_iters) — raise max_iters"
    )


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, 32-bit simhash bitstring) — per-bit majority vote over md5
    hex nibbles of each distinct token (bit b = high bit of hex digit
    b; md5 hex has exactly 32 nibbles).

    Portable construction: bit_b(token) = md5(token)[b] in '8'..'f'.
    One explode + one groupBy(id) with 32 sum-aggregates.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    tok = df.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text_col)), " "))
        ).alias("tok"),
    )
    h = F.md5(F.col("tok"))
    hi = list("89abcdef")
    votes = [
        F.sum(
            F.when(F.substring(h, b + 1, 1).isin(*hi), 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(32)
    ]
    voted = tok.groupBy("id").agg(*votes)
    bit_chars = [
        F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for b in range(32)
    ]
    return voted.select("id", F.concat(*bit_chars).alias("simhash"))


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    hash_grams: bool = False,
) -> DataFrame:
    """Span-level exact-substring dedup — the ExactSubstr shape of Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), re-expressed relationally: flag every token position
    whose k-token gram occurs twice or more ANYWHERE in the
    corpus (cross-doc or within-doc), then merge overlapping/adjacent
    flagged [pos, pos+k) windows into maximal islands per document —
    the character of the suffix-array approach (find long duplicated
    passages, not duplicate documents) without the suffix array: a
    corpus-wide sort over positional k-grams plays its role.

    Output one row per island: (id, span_start, span_end, n_positions)
    with token-index bounds [span_start, span_end) and the count of
    flagged gram positions inside. Downstream removal is a substring
    cut the trainer applies.

    Scale: TWO shuffles — a window count over the gram (the global
    duplicate test; positional grams, NOT distinct-per-doc, since
    within-doc repetition must count) and a per-doc sort for the
    island merge. Hot grams (boilerplate) widen one partition; the
    same salting escape hatch as the aggregate family applies, and at
    k=8 words genuine collisions are rare enough that the planner's
    AQE skew split covers the tail. At 100 TB the gram STRING (~50
    bytes) is the shuffle payload — ``hash_grams=True`` shuffles
    ``xxhash64(gram)`` instead (8 fixed bytes, 6-8x fewer shuffle
    bytes at k=8 words; false-flag probability ~N²/2⁶⁴ — at N = 10¹²
    positions that is ~3% odds of ONE spurious flagged window in the
    whole corpus, and a flagged window only ever widens a cut span).
    The default keeps the exact string so the duplicate test stays
    oracle-comparable; hashed==exact is pinned differentially in
    pytest on the fixture corpus.
    """
    from pyspark.sql import Window as W

    from kaj_query_engine_spark.functions.text import tokens

    sc = df.sparkSession.sparkContext
    try:
        n_input = len(df.inputFiles())
    except Exception:
        n_input = 0
    n_parts = max(sc.defaultParallelism, n_input)
    toks = (
        df.repartition(n_parts, F.col(id_col))
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t"))
        .filter(F.size("t") >= k)
    )
    grams = toks.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - k),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(
                        " ", F.slice(F.col("t"), i + 1, k)
                    ).alias("gram"),
                ),
            )
        ).alias("g"),
    ).select(
        "id",
        F.col("g.pos").alias("pos"),
        (
            F.xxhash64(F.col("g.gram")) if hash_grams else F.col("g.gram")
        ).alias("gram"),
    )
    flagged = (
        grams.withColumn(
            "c", F.count(F.lit(1)).over(W.partitionBy("gram"))
        )
        .filter(F.col("c") >= 2)
        .select("id", "pos")
    )
    return _merge_flagged_islands(flagged, k)


def _merge_flagged_islands(flagged: DataFrame, k: int) -> DataFrame:
    """Merge flagged k-gram positions (columns ``id``, ``pos``) into
    maximal per-doc islands: one row per island with token-index
    bounds [span_start, span_end) and the flagged-position count.
    ONE per-doc sort — shared by the corpus-duplicate (q68) and
    benchmark-contamination (q69) span families."""
    from pyspark.sql import Window as W

    prev = (
        W.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    run = (
        W.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    islands = flagged.withColumn(
        "st",
        (
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + k).over(prev), F.lit(-1))
        ).cast("long"),
    ).withColumn("gid", F.sum("st").over(run))
    return islands.groupBy(F.col("id"), F.col("gid")).agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + k).cast("int").alias("span_end"),
        F.count(F.lit(1)).cast("int").alias("n_positions"),
    ).drop("gid")


def contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    hash_grams: bool = False,
) -> DataFrame:
    """Span-level benchmark DECONTAMINATION — the production
    complement of :func:`duplicated_spans` (q68) and the span-exact
    upgrade of the bloom n-gram decontaminator: flag every corpus
    token position whose k-token gram appears ANYWHERE in the
    benchmark set, then merge flagged [pos, pos+k) windows into
    maximal per-doc islands the trainer cuts (cutting just the island
    keeps the rest of the document — doc-level drop wastes data;
    Lee et al. 2022 / GPT-3 appendix-C shape).

    Output (id, span_start, span_end, n_positions), like q68.

    Scale: the benchmark gram set is SMALL by construction (eval sets
    are thousands of documents, not billions), so the duplicate test
    is a BROADCAST left-semi join — the corpus-side plan is map-only
    (no corpus-wide shuffle on the gram, unlike q68's within-corpus
    test); the only shuffle is the per-doc island sort.
    ``hash_grams=True`` broadcasts xxhash64 digests instead of gram
    strings (8 bytes/entry — a 1M-gram benchmark broadcasts in 8 MB);
    a hash collision can only widen a cut, never leak contamination.
    """
    from kaj_query_engine_spark.functions.text import tokens

    def grams_of(df: DataFrame, with_pos: bool) -> DataFrame:
        toks = df.select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
        ).filter(F.size("t") >= k)
        g = toks.select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - k),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.concat_ws(
                            " ", F.slice(F.col("t"), i + 1, k)
                        ).alias("gram"),
                    ),
                )
            ).alias("g"),
        ).select(
            "id",
            F.col("g.pos").alias("pos"),
            (
                F.xxhash64(F.col("g.gram"))
                if hash_grams
                else F.col("g.gram")
            ).alias("gram"),
        )
        return g if with_pos else g.select("gram").distinct()

    bench_grams = grams_of(benchmark, with_pos=False)
    flagged = (
        grams_of(corpus, with_pos=True)
        .join(F.broadcast(bench_grams), on="gram", how="left_semi")
        .select("id", "pos")
    )
    return _merge_flagged_islands(flagged, k)


def semantic_dedup(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 8,
    iterations: int = 3,
    cluster_scale: int = 10_000,
    dedup_scale: int = 512,
    thr_num: int = 49,
    thr_den: int = 400,
    assigned: DataFrame | None = None,
    max_cluster_rows: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    near-duplicate pruning — the fifth dedup family, complementing
    exact / MinHash / SimHash / span: embed, k-means cluster the
    embedding space, compare pairwise cosine WITHIN clusters only,
    and drop all but one representative of each duplicate pair.
    Sub-quadratic BY CONSTRUCTION: no cross-cluster pair ever forms,
    so pair count is Σ|C_i|² ≈ N²/k.

    **Choosing k (the scale contract).** The paper's deployment
    regime is constant target cluster SIZE c, i.e. ``k ≈ N/c`` (they
    cluster LAION into 50k clusters): per-cluster pair work is then
    bounded by c²/2 and TOTAL pair work is ~N·c/2 — linear in the
    corpus (probe ``semantic_dedup_fixed_cluster_size``). With
    ``k ∝ √N`` instead, pair work reads ~N^1.5 (probe
    ``semantic_dedup_scaled_k`` measures e≈1.5 — the composition's
    honest shape when clustering is billed per run). At k ∝ N the
    Lloyd ASSIGNMENT itself is O(N·k) = quadratic, so at deployment
    scale the cluster assignment is BUILD-ONCE pipeline
    infrastructure — computed beside the embeddings, shared by every
    cluster consumer (mix balancing, stratified sampling, SemDeDup),
    amortized exactly like the IVF index build — and injected here
    via ``assigned`` (an (id, j) frame); truly huge k wants a
    hierarchical/ANN assigner upstream, which is FAISS territory,
    not a per-dedup-run cost. The assignment SHOULD cover every id;
    rows it misses are NOT silently dropped — they become singleton
    clusters at a parity-packed NEGATIVE id (``-2·id - 1`` for
    ``id >= 0``, ``2·id`` otherwise: injective over |id| < 2^62,
    never colliding with real cluster indices or each other), so
    they survive, count, and surface visibly in the output.

    **``max_cluster_rows``** (off by default) bounds the damage of a
    skewed clustering: clusters larger than the cap are deterministically
    sub-split into ``ceil(n/cap)`` hash cells (``pmod(xxhash64(id),
    cells)``) and pairs are compared WITHIN a cell only — per-cell
    pair work is ≤ cap²/2, so one giant cluster can no longer go
    quadratic. Pairs straddling cells are not compared: a recall
    knob, same contract as LSH banding, and the reported
    ``dup_pairs``/``dropped`` reflect it (leave it off for
    oracle-exact runs — q12 pins the uncapped recipe).

    ORACLE-EXACT like the rest of the iterative family: clustering is
    the integer fixed-point Lloyd recipe
    (:func:`~kaj_query_engine_spark.operators.clustering.kmeans_assign_int`,
    shared with q91 bit-for-bit), and the duplicate test avoids float
    cosine entirely — vectors re-quantize to a coarser
    ``1/dedup_scale`` grid (coarse enough that every product below
    stays in BIGINT: |q|·dim·scale² bounded), and a pair duplicates
    when ``dot > 0 AND dot²·thr_den ≥ thr_num·|a|²·|b|²`` — the
    squared-cosine threshold ``thr_num/thr_den = cos²θ`` as one
    integer comparison both engines evaluate identically.

    Keep rule: within each duplicate pair the SMALLER id survives; a
    document is dropped if ANY smaller-id duplicate shares its cluster
    (the same deterministic min-id convention as the exact/MinHash
    families; the paper keeps low-centroid-similarity examples — a
    policy knob, not a mechanism change).

    Returns one row per non-empty cluster: (cluster, n, dup_pairs,
    dropped, survivor_id_sum) — membership, duplicate-pair count,
    dropped-document count, and a checksum of the surviving ids; all
    BIGINT for the unrolled-CTE DuckDB oracle.

    **Cache lifetime** (round-14 advice): the member frame below is
    ``.persist()``-ed — its lineage holds the full iterative Lloyd
    run and every downstream branch re-reads it. Pass
    ``cache_registry`` (a list) to receive the persisted frame(s);
    the CALLER that materializes the result owns the
    ``.unpersist()`` calls. Without a registry the frames are
    session-lifetime and reclaimed by ``spark.catalog.clearCache()``
    (the bench driver clears between queries).

    Scale shape: one broadcast k×dim centroid join per Lloyd step
    (inherited), then ONE shuffle on cluster id for the pair join;
    the quantized dot/norm folds are JVM-side higher-order functions
    (zip_with/aggregate), never Python. No counterpart in the
    reference engine (no arrays, no iteration —
    ref:src/qp/utils/Attribute.java:11-13)."""
    return _semantic_dedup_variants(
        vecs,
        id_col,
        vec_col,
        k=k,
        iterations=iterations,
        cluster_scale=cluster_scale,
        dedup_scale=dedup_scale,
        thr_num=thr_num,
        thr_den=thr_den,
        assigned=assigned,
        variants=[("", max_cluster_rows)],
        cache_registry=cache_registry,
    ).drop("_variant")


def _semantic_dedup_variants(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int,
    iterations: int,
    cluster_scale: int,
    dedup_scale: int,
    thr_num: int,
    thr_den: int,
    assigned: DataFrame | None,
    variants: list,
    cache_registry: list | None = None,
) -> DataFrame:
    """:func:`semantic_dedup` generalized to several ``(name,
    max_cluster_rows)`` VARIANTS over one corpus in one plan (round-14,
    guide §2.4): the member frame is built and persisted ONCE, each
    variant contributes a tagged copy differing only in its ``cell``
    column, and a single (variant, cluster, cell) self-join + one
    rollup serve every variant — where q12's base+capped branches used
    to execute the whole pipeline (pair join included) once per
    :func:`semantic_dedup` call. Returns the per-cluster rollup with a
    leading ``_variant`` tag; per-variant rows are bit-identical to a
    separate :func:`semantic_dedup` call with that cap because pairs
    never cross the tag (it leads the join key) and the rollup groups
    by it."""
    from kaj_query_engine_spark.operators.clustering import (
        kmeans_assign_int,
        quantize_fixed,
    )

    self_clustered = assigned is None
    if self_clustered:
        # final_centroids=False (round-15, §2.4): only the assignment
        # is consumed here — see kmeans_assign_int's docstring
        assigned, _q, _cents = kmeans_assign_int(
            vecs, id_col, vec_col, k, iterations, cluster_scale,
            final_centroids=False,
        )
    else:
        assigned = assigned.select(
            F.col(assigned.columns[0]).alias("id"),
            F.col(assigned.columns[1]).alias("j"),
        )
    qd = quantize_fixed(vecs, id_col, vec_col, dedup_scale)
    n2 = F.aggregate(
        F.transform("q", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # persisted: every downstream branch (both pair-join sides, the
    # membership counts, the survivor anti-join) references this frame,
    # and its lineage contains the FULL iterative Lloyd run — without
    # the cache each branch would re-execute all k-means iterations
    # (measured: ~2x the whole query). Same session-reclaimed contract
    # as the quantized corpus inside kmeans_assign_int.
    # Coverage contract for an INJECTED assignment (round-13 advice):
    # an inner join here would silently DROP corpus rows the
    # assignment misses — understating dup_pairs/dropped and losing
    # survivors. Instead, unassigned rows land in their own SINGLETON
    # clusters at a NEGATIVE id parity-packed from the row id
    # (id >= 0 -> -2·id - 1, the odd negatives; id < 0 -> 2·id, the
    # even negatives): injective over |id| < 2^62 and always negative,
    # so singletons can never collide with real cluster indices
    # (k-means js are >= 0) nor with each other. They always survive,
    # always count, and surface visibly as negative cluster ids in
    # the output rather than vanishing. A self-built assignment
    # covers every id by construction and skips the left join.
    if self_clustered:
        m = qd.join(assigned, "id").select("j", "id", "q", n2.alias("n2"))
    else:
        # the |id| < 2^62 injectivity bound above is ENFORCED, not just
        # documented (round-14 advice): non-ANSI long arithmetic wraps
        # silently past it, and a wrapped singleton id can land
        # non-negative and masquerade as a real cluster index. The
        # raise_error lives INSIDE the consumed `j` expression — an
        # unused guard column would be column-pruned away with the
        # assertion — and only the taken CaseWhen branch evaluates, so
        # in-range rows never touch it. Two-sided compare, not abs():
        # abs(-2^63) itself wraps to -2^63 under non-ANSI long
        # arithmetic and would pass an abs()-based check.
        in_range = (F.col("id") < F.lit(1 << 62).cast("long")) & (
            F.col("id") > F.lit(-(1 << 62)).cast("long")
        )
        singleton_j = (
            F.when(
                in_range & (F.col("id") >= 0),
                -F.lit(2) * F.col("id") - F.lit(1),
            )
            .when(in_range, F.lit(2) * F.col("id"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "semantic_dedup: row id out of the "
                            "|id| < 2^62 singleton-packing range: "
                        ),
                        F.col("id").cast("string"),
                    )
                ).cast("long")
            )
        )
        m = (
            qd.join(assigned, "id", "left")
            .withColumn("j", F.coalesce(F.col("j"), singleton_j))
            .select("j", "id", "q", n2.alias("n2"))
        )
    m = m.persist()
    if cache_registry is not None:
        cache_registry.append(m)
    caps = [cap for _name, cap in variants if cap is not None]
    cn = (
        m.groupBy("j").agg(F.count(F.lit(1)).alias("_cn"))
        if caps
        else None
    )
    mv = None
    for name, cap in variants:
        if cap is None:
            part = m.select(
                F.lit(name).alias("_variant"),
                "j",
                F.lit(0).cast("long").alias("cell"),
                "id",
                "q",
                "n2",
            )
        else:
            # deterministic sub-split of oversized clusters: one count
            # per cluster (bounded by k rows — broadcast, so tagging
            # members with their cell is map-side and a single giant
            # cluster never funnels through one shuffle partition),
            # then a hash cell per member — per-cell pairs are ≤
            # cap²/2 regardless of skew
            part = m.join(F.broadcast(cn), "j").select(
                F.lit(name).alias("_variant"),
                "j",
                F.pmod(
                    F.xxhash64("id"),
                    F.greatest(
                        F.lit(1).cast("long"),
                        F.ceil(F.col("_cn") / F.lit(cap)).cast("long"),
                    ),
                ).alias("cell"),
                "id",
                "q",
                "n2",
            )
        mv = part if mv is None else mv.unionByName(part)
    a = mv.select(
        "_variant",
        "j",
        "cell",
        F.col("id").alias("ida"),
        F.col("q").alias("qa"),
        F.col("n2").alias("na2"),
    )
    b = mv.select(
        "_variant",
        "j",
        "cell",
        F.col("id").alias("idb"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb2"),
    )
    # Pair-join parallelism (round-15, guide §2.5/§3.1): the join's
    # INPUT is tiny relative to the work it fans out — every row
    # joins against its whole (cluster, cell) and each output pair
    # pays an interpreted dim-wide dot — so AQE, which sizes
    # partitions by input BYTES, coalesces the exchange to 1-2 tasks
    # and the dominant stage runs single-threaded on any machine
    # (measured: one 3.6 s single-task stage of q12's 5.8 s execution;
    # the 8-vs-32-core ratio of 0.87 said the same). When the member
    # frame fits the session's own broadcast threshold, do what a
    # cost-based planner would: broadcast the build side and
    # round-robin the probe side across the session's default
    # parallelism — the scoring stage then scales with cores and no
    # exchange carries the pairs. Past the threshold (the 100 TB
    # regime) the hash-partitioned shuffle join below is the right
    # plan and remains byte-identical in output; pair multisets are
    # unordered either way (the rollup is the only consumer). The size
    # probe is an eager job, so it runs only when broadcast is enabled.
    bthr = broadcast_threshold_bytes(vecs.sparkSession)
    if bthr > 0:
        st = m.select(
            F.count(F.lit(1)).alias("n"), F.max(F.size("q")).alias("d")
        ).first()
        est_bytes = (
            (st.n or 0) * ((st.d or 0) * 8 + 64) * max(1, len(variants))
        )
        if 0 < est_bytes <= bthr:
            par = vecs.sparkSession.sparkContext.defaultParallelism
            a = a.repartition(par)
            b = F.broadcast(b)
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, ["_variant", "j", "cell"])
        .filter(F.col("ida") < F.col("idb"))
        .select(
            "_variant", "j", "ida", "idb", dot.alias("dot"), "na2", "nb2"
        )
    )
    dups = pairs.filter(
        (F.col("dot") > 0)
        & (
            F.col("dot") * F.col("dot") * F.lit(thr_den)
            >= F.lit(thr_num) * F.col("na2") * F.col("nb2")
        )
    )
    # SINGLE-PASS rollup (round-14, guide §2.4): the old shape fanned
    # the UNPERSISTED pair join out to four consumers — per-cluster
    # pair counts, a distinct over dropped ids, a dropped count, and a
    # survivor anti-join — so the in-cell self-join (the expensive
    # subtree) re-executed three to four times per call (24 jobs
    # measured on q12's base branch). Instead the pair join runs ONCE:
    # one (j, idb) aggregate both dedups the dropped ids and keeps
    # their pair multiplicity, one (j) aggregate rolls up pair count /
    # dropped count / dropped-id sum, and the survivor checksum is
    # derived as sum(all member ids) − sum(dropped ids) — identical to
    # summing the survivors directly, even under non-ANSI wrapping,
    # because (Σall − Σdropped) ≡ Σsurvivors in mod-2^64 arithmetic
    # and dropped ⊆ members by construction (idb comes from m). The
    # per-cluster (n, id_sum) pass reads the persisted m once.
    per_m = mv.groupBy("_variant", "j").agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("_id_sum")
    )
    per_dup = (
        dups.groupBy("_variant", "j", "idb")
        .agg(F.count(F.lit(1)).alias("_pc"))
        .groupBy("_variant", "j")
        .agg(
            F.sum("_pc").alias("dup_pairs"),
            F.count(F.lit(1)).alias("dropped"),
            F.sum("idb").alias("_drop_sum"),
        )
    )
    return per_m.join(per_dup, ["_variant", "j"], "left").select(
        "_variant",
        F.col("j").alias("cluster"),
        "n",
        F.coalesce("dup_pairs", F.lit(0)).alias("dup_pairs"),
        F.coalesce("dropped", F.lit(0)).alias("dropped"),
        (
            F.col("_id_sum") - F.coalesce("_drop_sum", F.lit(0))
        ).alias("survivor_id_sum"),
    )
