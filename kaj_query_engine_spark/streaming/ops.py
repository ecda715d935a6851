"""Structured Streaming operators over the ``events`` table.

The reference engine is strictly batch (its grammar has no temporal or
streaming constructs — ``/root/reference/src/qp/parser/scaner.lex:37-163``);
this module is north-star extension surface, built on Spark's
incremental execution model:

- **file-source streams**: the fixture parquet read with ``readStream``
  — on a cluster this is the same code over a landing directory that
  continuously receives files (or a Kafka source swapped in by config).
- **watermarks** bound state: every windowed aggregation declares how
  late data may arrive; Spark drops state for windows older than
  ``max(event_time) - watermark`` instead of keeping it forever.
- **tumbling / session windows**: ``F.window`` / ``F.session_window``
  group-bys — partial aggregation map-side, one shuffle on
  (window, keys), state store holds only open windows.
- **streaming dedup**: ``dropDuplicatesWithinWatermark`` — state is one
  entry per key within the watermark horizon, not the full history.
- **custom stateful operator**: ``applyInPandasWithState`` — per-key
  mutable state across micro-batches with Arrow-batched transfer
  (running totals here; the same shape carries CEP/session machines).
  It is the engine's one Python-stateful path: it needs no package
  beyond pyspark and runs on either state store provider.

Determinism note for the correctness gate: every pipeline here runs
with ``trigger(availableNow=True)`` over a single fixture file — one
micro-batch, so watermarking never drops fixture rows and results are
exactly the batch semantics (which is what the DuckDB oracle checks).
The *incremental* semantics — late-row dropping, state eviction, dedup
state expiry — are exercised separately by
``tests/test_streaming_eviction.py``, which streams multi-file input
with ``maxFilesPerTrigger=1`` and asserts on state-store metrics.
"""

from __future__ import annotations

import itertools
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from kaj_query_engine_spark.catalog import _read_parquet

_MEMQ = itertools.count()


def read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming read of a fixture table.

    The schema comes from a batch read of the same path (streaming file
    sources require an explicit schema — inference would race the
    stream); the nanosecond-timestamp repair in ``_read_parquet`` is
    re-applied since the raw stream sees int64 nanos.
    """
    path = f"{sf_dir}/{name}.parquet"
    batch = _read_parquet(spark, path)
    raw_schema = spark.read.parquet(path).schema
    # the file source wants a directory: stream the fixture dir with a
    # glob filter selecting just this table's file
    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    from pyspark.sql.types import LongType, TimestampNTZType

    for field in batch.schema.fields:
        raw_type = raw_schema[field.name].dataType
        if raw_type == field.dataType:
            continue
        if isinstance(raw_type, LongType):
            # nanos-as-long column: convert with integer division (a
            # double intermediate loses precision on 2^60-scale nanos)
            sdf = sdf.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
        elif isinstance(raw_type, TimestampNTZType):
            # fixture written as timestamp[us] NTZ: plain cast (session
            # is UTC, wall-clock identical) — watermarks need TIMESTAMP
            sdf = sdf.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return sdf


# Auto-sizing for stateful shuffle partitions. State stores are
# per-partition fixed overhead (open/commit/snapshot every micro-batch)
# while compute parallelism wants more partitions — a measured sweep of
# three stateful shapes at sf0.1 (totals/tumble/dedup × partitions
# 1..32) puts the sweet spot at 2–8 with 16+ always losing, and the
# key-count scaling says ~2 048 keys per partition with a floor of 4
# (below 4, cores idle on the compute-bound shapes: totals at 1
# partition costs 2.8× its best). At 10⁹ keys the rule saturates
# cluster parallelism — where an unbounded run should re-size by
# state BYTES per partition instead (documented caveat, not a fixture
# concern).
STATE_KEYS_PER_PARTITION = 2048
STATE_PARTITIONS_FLOOR = 4


def state_partitions_for_keys(
    n_keys: int, parallelism: int, python_stateful: bool = False
) -> int:
    """The sizing rule: next power of two of n_keys / 2048, clamped to
    [4, parallelism]. Pure so the rule itself is unit-testable.

    ``python_stateful`` raises the floor to parallelism/2: for
    applyInPandasWithState the partition count is also the number of
    CONCURRENT PYTHON WORKERS, and the
    per-partition state-store overhead the low floor optimizes for is
    dwarfed by Python compute — measured on the user-totals shape at
    sf0.1 (local[32], warm): 4 partitions 2.33 s, 8 → 1.73 s,
    16 → 1.48 s, 32 → 1.82 s. JVM-stateful shapes (windows, dedup,
    stream-stream joins) stay on the low floor — their sweep is flat
    to slightly favoring fewer (tumble: 0.89/0.92/0.97 s at 4/8/16)."""
    import math

    p = 2 ** math.ceil(math.log2(max(1.0, n_keys / STATE_KEYS_PER_PARTITION)))
    floor = STATE_PARTITIONS_FLOOR
    if python_stateful:
        floor = max(floor, parallelism // 2)
    return max(min(floor, parallelism), min(p, parallelism))


def _source_fingerprint(batch_df: DataFrame) -> tuple | None:
    """Staleness token for a file-backed DataFrame: the sorted input
    file listing, with (size, mtime) for locally-stattable paths.
    Metadata-only — no data is read. For parquet-style sources a data
    change always changes the listing (new part files), and object
    stores write immutable uniquely-named objects, so the listing IS
    the token. Returns None for non-file sources (no cheap token
    exists — callers then rescan rather than risk a stale count)."""
    import os
    from urllib.parse import urlparse

    files = batch_df.inputFiles()
    if not files:
        return None
    out = []
    for f in sorted(files):
        p = urlparse(f)
        if p.scheme in ("", "file"):
            try:
                st = os.stat(p.path)
                out.append((f, st.st_size, st.st_mtime_ns))
                continue
            except OSError:
                pass
        out.append((f, None, None))
    return tuple(out)


def _source_root(token: tuple) -> str:
    """Stable memo key for a file-backed source: the common ancestor
    directory of the whole listing, with trailing ``key=value`` hive
    partition segments stripped. Keying on the FIRST listed file's
    immediate parent (the original form) broke single-entry-per-source
    for partition-subdirectory sources — whenever the
    lexicographically-first partition changed across generations, a new
    memo entry accumulated under a new key (round-9 advice)."""
    import os
    import posixpath
    from urllib.parse import urlparse

    paths = [urlparse(f).path or f for f, _s, _m in token]
    try:
        # commonpath raises ValueError on a mix of absolute and
        # relative paths (possible when urlparse strips schemes
        # inconsistently across the listing) — fall back to the
        # MAJORITY class's common root rather than failing an
        # otherwise valid source (round-10 advice). The fallback key
        # was paths[0]'s parent, which keyed the memo on whichever
        # entry happened to list first — wrong for the rest of the
        # listing when the first path was the relative outlier
        # (round-11 advice): absolute paths, the real-listing class,
        # now win regardless of ordering.
        root = (
            os.path.commonpath(paths)
            if len(paths) > 1
            else posixpath.dirname(paths[0])
        )
    except ValueError:
        cls = [p for p in paths if p.startswith("/")] or paths
        root = (
            os.path.commonpath(cls)
            if len(cls) > 1
            else posixpath.dirname(cls[0])
        )
    if root in set(paths):
        # a single path listed more than once: commonpath returns the
        # FILE itself, not its directory
        root = posixpath.dirname(root)
    while "=" in posixpath.basename(root):
        root = posixpath.dirname(root)
    return root


def _scan_key_cardinality(batch_df: DataFrame, keys: tuple) -> int:
    """The one full-source pass: column-pruned approx_count_distinct
    over the batch view. Separated out so tests can count invocations."""
    return (
        batch_df.select(
            F.approx_count_distinct(F.struct(*keys)).alias("n")
        ).first()
        .n
    )


_ASP_MEMO: dict = {}


def auto_state_partitions(
    batch_df: DataFrame,
    *keys,
    python_stateful: bool = False,
    cache_path: str | None = None,
    cache_entry: str | None = None,
) -> int:
    """Derive ``state_partitions`` from OBSERVED key cardinality: one
    cheap column-pruned ``approx_count_distinct`` over the batch view
    of the same source (streaming sources are backed by data you can
    batch-read — a landing dir, a Kafka topic's compacted snapshot),
    fed through :func:`state_partitions_for_keys`. Replaces the magic
    ``state_partitions=8`` constant; ``keys`` are the stateful
    operator's grouping columns/exprs (window keys pass the batch
    window expression).

    The pre-scan is a FULL read of the source — at 100 TB that must
    not run per stream start, so the cardinality is memoized
    in-process behind a metadata-only staleness token (the source's
    file listing + sizes/mtimes) and, when ``cache_path`` names a
    JSON file, persisted there so later processes skip the scan too —
    paid once per source GENERATION, like a materialized layout.
    Non-file sources have no cheap token and rescan every call
    (documented cost; give such a source a landing-dir batch view).
    """
    token = _source_fingerprint(batch_df)
    key_sig = tuple(str(k) for k in keys)
    parallelism = batch_df.sparkSession.sparkContext.defaultParallelism
    if token is None:
        return state_partitions_for_keys(
            _scan_key_cardinality(batch_df, keys),
            parallelism,
            python_stateful=python_stateful,
        )
    # the memo is keyed by (source dir, keys) and stores only a DIGEST
    # of the fingerprint: a regenerated source replaces its entry
    # instead of accumulating one arbitrarily-large listing-sized key
    # per generation in a long-lived driver
    import hashlib
    import os as _os

    tok_digest = hashlib.sha256(repr(token).encode()).hexdigest()
    memo_key = (_source_root(token), key_sig)
    rec = _ASP_MEMO.get(memo_key)
    n = rec[1] if rec is not None and rec[0] == tok_digest else None
    if n is None and cache_path is not None:
        import json
        import os
        from pathlib import Path

        path = Path(cache_path)
        entry = cache_entry if cache_entry is not None else "|".join(key_sig)
        try:
            persisted = json.loads(path.read_text())
        except (OSError, ValueError):
            persisted = {}
        rec = persisted.get(entry)
        if rec and rec.get("token") == tok_digest:
            n = rec["n"]
        else:
            n = _scan_key_cardinality(batch_df, keys)
            persisted[entry] = {"token": tok_digest, "n": n}
            path.parent.mkdir(parents=True, exist_ok=True)
            tmp = path.with_suffix(".tmp")
            tmp.write_text(json.dumps(persisted, indent=1, sort_keys=True))
            os.replace(tmp, path)
    elif n is None:
        n = _scan_key_cardinality(batch_df, keys)
    _ASP_MEMO[memo_key] = (tok_digest, n)
    return state_partitions_for_keys(
        n, parallelism, python_stateful=python_stateful
    )


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming plan over all currently-available input and
    return the final result as a batch DataFrame (memory sink).

    ``availableNow`` is the bounded-execution trigger: process every
    pending file, then stop — the streaming analog of a batch run, and
    exactly what a backfill over a landing directory does on a cluster.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for this
    query (restored after): every stateful operator instantiates one
    state store PER partition (a stream-stream join has four), so a
    small bounded backfill wants few partitions — 32 partitions cost
    ~2.5× the wall time of 8 on fixture-scale input. Callers derive it
    from observed key cardinality via :func:`auto_state_partitions`
    (the workload queries do); the setting is fixed at first
    checkpoint forever after.
    """
    return run_available_now_all([(sdf, output_mode, state_partitions)])[0]


def run_available_now_all(
    specs: list[tuple[DataFrame, str, int | None]],
) -> list[DataFrame]:
    """Run several INDEPENDENT bounded streaming queries concurrently:
    start them all, then await them all.

    Each ``start()`` clones the SparkSession (StreamExecution's
    contract), so per-query ``spark.sql.shuffle.partitions`` is
    captured at its own start — set, start, move to the next, restore
    once. Concurrent execution overlaps the per-query fixed overhead
    (trigger setup, state-store open/commit, memory-sink swap) that
    dominates bounded backfills at small scale; on a cluster the same
    holds — independent maintenance streams share executors instead
    of running in file: a workload with two disjoint stateful streams
    (q80's tumble+session, q82's events+docs) has no ordering
    dependency between them, so serializing them is pure wasted wall
    clock at ANY scale."""
    if not specs:
        return []
    spark = specs[0][0].sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    names, queries = [], []
    try:
        for sdf, output_mode, state_partitions in specs:
            name = f"kaj_stream_q{next(_MEMQ)}"
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                prev if state_partitions is None else str(state_partitions),
            )
            queries.append(
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            names.append(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for q in queries:
        q.awaitTermination()
    return [spark.table(n) for n in names]


def stream_tumbling_agg(
    sdf: DataFrame,
    ts_col: str,
    duration: str,
    watermark: str,
    aggs: list[Column],
    keys: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation: (ws, we, *keys, *aggs).

    State store holds only windows newer than the watermark horizon;
    closed windows are emitted and dropped — bounded memory at any
    input rate.
    """
    out = (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration).alias("w"), *(keys or []))
        .agg(*aggs)
    )
    rest = [c for c in out.columns if c != "w"]
    return out.select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), *rest)


def stream_session_stats(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str,
    watermark: str,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Session-window aggregation: events of one key whose windows
    overlap (next.ts < prev.ts + gap) merge into one session.

    ``F.session_window`` is Spark's native dynamic-gap session state —
    sessions close (and leave the state store) once the watermark
    passes their end. Output: (key, session_start, n_events, *aggs);
    session_start = min event ts (window end includes the +gap pad, so
    stats use real event bounds instead).
    """
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key_col))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            *(aggs or []),
        )
        .drop("sw")
    )


def streaming_dedup(
    sdf: DataFrame, keys: list[str], ts_col: str, watermark: str
) -> DataFrame:
    """Drop duplicate events by key, keeping state only within the
    watermark horizon (``dropDuplicatesWithinWatermark``) — the
    unbounded-stream-safe form of exact dedup: state is one entry per
    key seen in the last ``watermark`` of event time, not forever.
    """
    return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    window_seconds: int,
    watermark: str,
    l_prefix: str = "l_",
    r_prefix: str = "r_",
) -> DataFrame:
    """Watermarked stream-stream inner join: pairs of events with the
    same key where ``left.ts < right.ts <= left.ts + window``.

    Both sides buffer in the state store only as long as the watermark
    + join window require — the time bound is what makes an unbounded
    stream-stream join feasible (without it state grows forever).
    Columns come back prefixed per side; ``ts`` is assumed on both.
    """
    l = left.withWatermark("ts", watermark).select(
        F.col(key_col).alias("_k"),
        *[F.col(c).alias(f"{l_prefix}{c}") for c in left.columns if c != key_col],
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key_col).alias("_rk"),
        *[F.col(c).alias(f"{r_prefix}{c}") for c in right.columns if c != key_col],
    )
    lts, rts = F.col(f"{l_prefix}ts"), F.col(f"{r_prefix}ts")
    cond = (
        (F.col("_k") == F.col("_rk"))
        & (rts > lts)
        & (rts <= lts + F.expr(f"INTERVAL {window_seconds} SECONDS"))
    )
    return (
        l.join(r, cond, "inner")
        .withColumnRenamed("_k", key_col)
        .drop("_rk")
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key_col: str,
    dim_cols: list[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against a
    *batch* dimension table — the lookup/enrichment pattern (events ×
    user table, docs × license table) that precedes most streaming
    aggregations in production.

    Scale shape: the static side is stateless for the stream (nothing
    buffers in the state store — Spark re-plans the batch side per
    micro-batch, picking up dimension updates). NO broadcast hint on
    the dimension: nothing in this API bounds its size, and a hint
    overrides autoBroadcastJoinThreshold — at 100 TB a grown dimension
    would OOM every executor instead of degrading to a shuffled hash
    join. The join is equi-keyed, so each micro-batch's planner
    broadcasts on its own while the dimension's size estimate is under
    the threshold (the common enrichment case) and shuffles when it
    isn't. Left join keeps stream rows with no dimension match
    (NULL-padded), matching the batch left-join semantics the oracle
    can check.
    """
    cols = dim_cols if dim_cols is not None else [
        c for c in dim.columns if c != key_col
    ]
    d = dim.select(key_col, *cols)
    return stream.join(d, key_col, how)


def stream_corpus_filter(
    stream: DataFrame, fp_index: DataFrame, text_col: str
) -> DataFrame:
    """New-documents filter for a document-ingest stream: drop every
    incoming doc whose content fingerprint already exists in the
    corpus (stream-static LEFT ANTI join against the corpus's
    materialized ``exact_duplicates`` index) — the streaming face of
    the incremental-ingest dedup family.

    Scale shape: STATELESS for the stream — an anti join against a
    static side buffers nothing in the state store, and the static
    side is re-planned per micro-batch, so an index refreshed by a
    nightly compaction is picked up without restarting the query. The
    corpus index is scanned per micro-batch (the same map-only probe
    economics as the batch path when the planner broadcasts the
    micro-batch's fingerprints); within-stream duplicates are NOT
    dropped here — that is watermark-bounded
    :func:`streaming_dedup`'s job, with bounded state.
    """
    from kaj_query_engine_spark.functions.text import doc_fingerprint

    # collision-safe internal name: withColumn("h") would silently
    # CLOBBER (and the final drop would then delete) a stream column
    # that happens to be called "h" — the survivor schema must be the
    # input's, untouched
    with_fp = stream.withColumn("__fp", doc_fingerprint(F.col(text_col)))
    idx = fp_index.select(F.col("h").alias("__fp"))
    return with_fp.join(idx, "__fp", "left_anti").drop("__fp")


def stream_stateful_user_totals(
    sdf: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (n_events, sum) carried across micro-batches in the state
    store, updated from Arrow-batched pandas chunks.

    The sum is accumulated in integer micro-units (``round(v * 1e6)``)
    so state is exact and associative across batches — float
    accumulation would drift with batch boundaries.
    """
    out_schema = StructType.fromDDL(f"{key_col} long, n_events long, sum_v double")
    state_schema = StructType.fromDDL("n long, micros long")

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # per-item quantization to micros == CAST(v AS DECIMAL(18,6)):
            # HALF_UP away from zero — pandas .round() is half-to-even
            # and diverges from DECIMAL casts at exact half-micro values
            scaled = pdf[value_col].to_numpy(dtype="float64") * 1_000_000.0
            q = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
            micros += int(q.astype("int64").sum())
        state.update((n, micros))
        # exact HALF_UP to 2 decimals, matching round(DECIMAL, 2)
        cents = (abs(micros) + 5_000) // 10_000 * (1 if micros >= 0 else -1)
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "sum_v": [cents / 100.0]}
        )

    return sdf.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _delta_join_frame(touched: DataFrame, n: int | None) -> DataFrame:
    """The touched frame as a join side: broadcast-hinted only while it
    actually fits a broadcast (keys ≤ the session-threshold-derived
    cap) — a bulk backfill batch with millions of touched keys falls
    back to a shuffled join instead of blowing the driver (round-9
    review item 3). ``n`` is the frame's known row count — the apply
    fns read it off the batch's ``TouchedInfo`` (one driver job per
    batch, shared with read_buckets/commit_keyed); ``None`` means
    over-cap, never hint."""
    from kaj_query_engine_spark.sources.versioned import _broadcast_key_cap

    if n is not None and n <= _broadcast_key_cap(touched.sparkSession):
        return F.broadcast(touched)
    return touched


def _touched_setup(table, touched: DataFrame):
    """(TouchedInfo | None, join-ready touched frame) for a batch:
    bucketed tables pay ONE TouchedInfo collect — shared with the
    batch's read_buckets and commit_keyed — and get the count-guarded
    broadcast; unbucketed tables (full-rewrite degenerate path) keep
    the by-contract delta broadcast."""
    if table.is_bucketed:
        ti = table.touched_info(touched)
        return ti, _delta_join_frame(touched, ti.n_rows)
    return None, F.broadcast(touched)


def _keyed_apply(
    table, frame: DataFrame, keys: list[str], build, batch_id=None
) -> None:
    """The keyed micro-batch body of the MERGE/SCD2/aggregate apply
    fns: ``frame``'s distinct keys → one TouchedInfo → the stored rows
    of the files the commit will rewrite (``read_buckets``, semi-joined
    to the keys) → ``build(touched_rows)``, the keys' replacement →
    ``commit_keyed``. An empty batch mints no version."""
    touched = frame.select(*keys).distinct()
    ti, tfr = _touched_setup(table, touched)
    if ti is not None and ti.n_rows == 0:
        return  # empty micro-batch: logical no-op, mint no version
    base = table.read_buckets(frame.sparkSession, touched, info=ti)
    touched_rows = base.join(tfr, on=keys, how="left_semi")
    table.commit_keyed(
        build(touched_rows), touched, batch_id=batch_id, info=ti
    )


def _drain(sdf: DataFrame, table, apply_batch, blocking: bool = True):
    """Run ``apply_batch`` over every available micro-batch of ``sdf``
    (``foreachBatch``, checkpointed under the table, ``availableNow``)
    and return the table's final state — or, with ``blocking=False``,
    the started :class:`StreamingQuery` for the caller to await."""
    q = (
        sdf.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(table.path / "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if not blocking:
        return q
    q.awaitTermination()
    return table.read(sdf.sparkSession)


def stream_merge_apply(
    sdf: DataFrame,
    table,
    keys: list[str],
    delete_condition: Column | None = None,
    schema_evolution: bool = False,
) -> DataFrame:
    """Streaming MERGE: apply each micro-batch of upserts/deletes to a
    :class:`~kaj_query_engine_spark.sources.versioned.VersionedTable`
    via ``foreachBatch`` — the standard CDC-apply pattern (a stream of
    changes maintaining a queryable table), composed from the batch
    :func:`~kaj_query_engine_spark.operators.maintenance.merge_upsert`
    so streaming and batch maintenance share ONE merge semantics
    (same law as the stream==batch pins on dedup/windows: q85's
    oracle is literally q55's snapshot SQL).

    Each batch is delta-bounded end to end: the batch's distinct keys
    select only the key-buckets they live in (``read_buckets`` — on a
    bucketed table untouched buckets are never scanned), the merge
    join runs over touched rows ∪ batch only, and ``commit_keyed``
    rewrites only the touched buckets, carrying every other bucket's
    files forward byte-identical. Batches apply serially
    (foreachBatch's contract), so last-writer-wins across batches and
    re-running a failed batch just re-commits the same result.
    Returns the final table state as a batch DataFrame."""
    from kaj_query_engine_spark.operators.maintenance import merge_upsert

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # evolution composes with versioning for free: the first
        # drifted batch widens the manifest schema; untouched buckets'
        # files read the new column as NULL without being rewritten
        # (same as Delta's mergeSchema on a streaming MERGE sink)
        _keyed_apply(table, batch_df, keys, lambda rows: merge_upsert(
            rows, batch_df, keys, delete_condition=delete_condition,
            schema_evolution=schema_evolution,
        ))

    return _drain(sdf, table, apply_batch)


def stream_scd2_apply(
    sdf: DataFrame,
    table,
    key: str,
    ts_col: str,
    state_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming SCD2 maintenance: each micro-batch of events merges
    into a versioned dimension table through the incremental
    ``scd2_merge_batch`` — the dimension twin of
    :func:`stream_merge_apply`, sharing ONE merge implementation with
    the batch path (q86's oracle is literally the full-rebuild SQL).

    The append-only precondition holds by construction for a
    time-ordered stream: the file source delivers batches
    oldest-first and watermarked ingest delivers event time
    monotonically per key across batches, which is exactly
    "every batch event at-or-after the key's last observed event".
    Late events belong in a reconciliation rebuild of their keys (see
    ``operators/maintenance.scd2_merge_batch``). Run-collapse
    idempotence absorbs at-least-once re-delivery. Returns the final
    dimension state.

    Delta-bounded like its siblings: only the buckets holding the
    batch's keys are read (``read_buckets``), the run re-collapse runs
    over touched keys' versions ∪ batch events only, and
    ``commit_keyed`` rewrites only those buckets — untouched keys'
    files are carried forward byte-identical, never re-windowed."""
    from kaj_query_engine_spark.operators.maintenance import scd2_merge_batch

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # dim restricted to touched keys → scd2_merge_batch's "kept"
        # arm is empty by construction; the whole result is the
        # replacement for exactly the touched keys
        _keyed_apply(table, batch_df, [key], lambda rows: scd2_merge_batch(
            rows, batch_df, key, ts_col, state_col, tiebreak=tiebreak
        ))

    return _drain(sdf, table, apply_batch)


def stream_agg_state_apply(
    sdf: DataFrame,
    table,
    keys: list[str],
    batch_state_of,
    merge_exprs: dict[str, str],
) -> DataFrame:
    """Streaming materialized-view maintenance: each micro-batch is
    aggregated to its per-key state (``batch_state_of``, a
    DataFrame -> DataFrame aggregation) and algebraically merged into
    the versioned state table via
    :func:`~kaj_query_engine_spark.operators.maintenance.merge_agg_state`
    — the third member of the foreachBatch-maintenance family
    (MERGE q85, SCD2 q86, aggregates here), one merge implementation
    per family shared between batch and streaming. Associativity of
    the algebraic merge is what makes batch boundaries invisible:
    any micro-batching of the same rows converges to the same state.

    Unlike its siblings (merge_upsert and the SCD2 run-collapse are
    idempotent on re-delivery), the algebraic ADD is not: foreachBatch
    is at-least-once, and a crash between ``table.commit`` and the
    streaming checkpoint commit re-delivers the batch, which would
    double counts/sums. Each commit therefore records its batch id
    with the version (atomically — it rides the committed manifest), and an already
    applied id is skipped on re-delivery, upgrading this path to
    effectively-once.

    Delta-bounded: the batch state's keys select their buckets only
    (``read_buckets``), the algebraic merge joins touched state ∪
    batch state, and ``commit_keyed`` rewrites only those buckets —
    untouched keys' state files are carried forward byte-identical."""
    from kaj_query_engine_spark.operators.maintenance import merge_agg_state

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = table.last_applied_batch()
        if last is not None and batch_id <= last:
            return  # at-least-once re-delivery of an applied batch
        bs = batch_state_of(batch_df)
        _keyed_apply(
            table, bs, keys,
            lambda rows: merge_agg_state(rows, bs, keys, merge_exprs),
            batch_id=batch_id,
        )

    return _drain(sdf, table, apply_batch)


def stream_join_view_apply(
    sdf: DataFrame,
    table,
    static_left: DataFrame,
    on: list[str],
    *,
    blocking: bool = True,
) -> DataFrame:
    """Streaming incremental JOIN-view maintenance — the fourth member
    of the foreachBatch-maintenance family (MERGE q85, SCD2 q86,
    aggregates q87, join views here): each micro-batch of right-side
    appends ΔR folds into the stored view V = L ⋈ R by the insert-only
    IVM delta rule's right-delta term ΔV = L ⋈ ΔR (the left side is a
    static dimension here, so the ΔL terms vanish), committed to the
    snapshot-isolated versioned table. The whole batch is O(Δ): the
    JOIN is delta-bounded (the planner broadcasts ΔR; the view is
    never re-joined) and the commit is ``commit_append`` — the delta's
    data files plus a manifest referencing the prior version's files,
    so bytes written per batch scale with the delta, never with the
    view (the manifest design a real table format implements with a
    commit log).

    The append is NOT idempotent (re-delivering a batch would append
    its delta rows twice), so like the aggregate path each commit
    records its foreachBatch id and an already-applied id is skipped —
    effectively-once on top of at-least-once delivery.

    ``blocking=False`` returns the started :class:`StreamingQuery`
    instead of draining it — the caller awaits and reads. Spark runs
    each streaming query on its own driver thread, so two independent
    maintenance lifecycles (distinct tables, distinct checkpoints)
    submitted this way interleave their micro-batch jobs instead of
    queueing behind one another (guide §2.6 — actions are only
    sequential because driver code awaits them sequentially)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = table.last_applied_batch()
        if last is not None and batch_id <= last:
            return  # at-least-once re-delivery of an applied batch
        delta_view = static_left.join(batch_df, on=on)
        table.commit_append(delta_view, batch_id=batch_id)

    return _drain(sdf, table, apply_batch, blocking)


def stream_join_view_cdc_apply(
    sdf: DataFrame,
    table,
    static_left: DataFrame,
    on: list[str],
    op_col: str = "op",
    *,
    blocking: bool = True,
) -> DataFrame:
    """Streaming join-view maintenance under a CDC feed on the RIGHT
    side — the keyed twin of :func:`stream_join_view_apply`, closing
    the IVM matrix (batch/stream × insert-only/keyed): each micro-
    batch carries dimension changes tagged ``op`` ∈ {I, U, D} keyed by
    the join columns (the dimension's key). Because the LEFT side is
    static and the right is keyed by ``on``, the keyed compensation
    collapses to a touched-key refresh — a special case of the signed
    rule where every term lands on the same keys:

        V' = (V ∖ V⋉touched)  ∪  L ⋈ upserts

    (the view rows for a touched key ARE its pre-image contribution,
    so no separate right-side state table is needed; deletes of
    absent keys and re-inserts after deletes fold correctly because
    the refresh is keyed, not signed). The whole batch is O(Δ): one
    delta-bounded join builds the touched keys' replacement rows
    (broadcast upserts against the static left), and ``commit_keyed``
    does the touched-key removal AND the write in one step — only the
    key-buckets the batch touches are read and rewritten; every other
    bucket's files are carried forward byte-identical (bucket the view
    on the dimension key at init to get this path). Batches are
    treated as compacted CDC (at most one change per key per batch —
    the usual feed contract; pre-compact with the merge family
    otherwise). Idempotent per batch ID via the recorded commit marker
    (a keyed refresh is naturally idempotent, but skipping
    re-deliveries keeps the version history one-commit-per-batch)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = table.last_applied_batch()
        if last is not None and batch_id <= last:
            return  # at-least-once re-delivery of an applied batch
        touched = batch_df.select(*on).distinct()
        ti, _ = _touched_setup(table, touched)
        if ti is not None and ti.n_rows == 0:
            return  # empty micro-batch: logical no-op, mint no version
        ups = batch_df.filter(F.col(op_col) != "D").drop(op_col)
        # ups row count ≤ the distinct-key count BY the compacted-CDC
        # contract (at most one change per key per batch — stated in
        # the docstring; pre-compact otherwise), so ti.n_rows is a
        # valid size bound for the broadcast guard; unbucketed tables
        # keep the by-contract delta broadcast
        replacement = static_left.join(
            _delta_join_frame(ups, ti.n_rows)
            if ti is not None
            else F.broadcast(ups),
            on=on,
        )
        table.commit_keyed(replacement, touched, batch_id=batch_id, info=ti)

    return _drain(sdf, table, apply_batch, blocking)
