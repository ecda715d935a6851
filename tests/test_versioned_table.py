"""VersionedTable + streaming-MERGE pins: snapshot isolation (a
failed commit leaves the pointer untouched), time travel, and the
multi-batch CDC-apply contract — batches apply serially with
last-writer-wins across batches, equal to folding the same batches
through the batch merge_upsert."""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kaj_query_engine_spark.operators.maintenance import merge_upsert
from kaj_query_engine_spark.sources.versioned import VersionedTable
from kaj_query_engine_spark.streaming.ops import stream_merge_apply

SCHEMA = "k long, v string"


def df_(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_init_commit_time_travel(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    assert tbl.current_version() is None
    with pytest.raises(ValueError, match="uninitialized"):
        tbl.read(spark)
    tbl.init(df_(spark, [(1, "a")]))
    tbl.commit(df_(spark, [(1, "a"), (2, "b")]))
    tbl.commit(df_(spark, [(2, "b")]))
    assert tbl.current_version() == 2
    assert tbl.versions() == [0, 1, 2]
    assert tbl.read(spark).count() == 1
    # time travel: every prior version still readable, unchanged
    assert sorted(r.k for r in tbl.read(spark, 1).collect()) == [1, 2]
    assert [r.k for r in tbl.read(spark, 0).collect()] == [1]


def test_failed_commit_leaves_pointer(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a")]))

    @F.udf("string")
    def boom(v):
        raise RuntimeError("mid-write failure")

    bad = df_(spark, [(2, "b")]).withColumn("v", boom("v"))
    with pytest.raises(Exception):
        tbl.commit(bad)
    # the pointer never moved; the table still reads version 0
    assert tbl.current_version() == 0
    assert [r.k for r in tbl.read(spark).collect()] == [1]
    # a follow-up good commit writes its own token-unique attempt dir
    # (the crashed attempt's dir is never touched — it may have been a
    # rival's live data, round-11 advice)
    assert tbl.commit(df_(spark, [(1, "a"), (3, "c")])) == 1
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 3]
    # a crashed attempt's orphan dir (files on disk, referenced by no
    # manifest) is reclaimed by vacuum's reference-count GC — even at
    # a retention window that keeps every version
    orphan_dir = tbl.path / "data" / "c9-deadbeef"
    orphan_dir.mkdir(parents=True)
    orphan = orphan_dir / "part-00000.parquet"
    orphan.write_bytes(b"crashed attempt residue")
    tbl.vacuum(keep_last=10)
    assert not orphan.exists() and not orphan_dir.exists()
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 3]
    assert [r.k for r in tbl.read(spark, 0).collect()] == [1]


BATCHES = [
    # batch 0: update k=1, insert k=10
    [(1, "b0"), (10, "b0")],
    # batch 1: overwrite batch-0's k=10 (last-writer-wins), delete k=2
    [(10, "b1"), (2, "DEL")],
    # batch 2: re-insert the key batch 1 deleted
    [(2, "b2")],
]


def _write_batches(tmp_path):
    d = tmp_path / "stream"
    d.mkdir()
    base = 1_700_000_000
    for i, rows in enumerate(BATCHES):
        p = d / f"b{i:03d}.parquet"
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([r[0] for r in rows], pa.int64()),
                    "v": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            p,
        )
        os.utime(p, (base + i * 60, base + i * 60))
    return str(d)


def test_stream_merge_multi_batch_equals_sequential_fold(spark, tmp_path):
    target = df_(spark, [(1, "t"), (2, "t"), (3, "t")])
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(target)
    sdf = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(_write_batches(tmp_path))
    )
    delete = F.col("v") == "DEL"
    final = stream_merge_apply(sdf, tbl, ["k"], delete_condition=delete)
    got = {r.k: r.v for r in final.collect()}
    assert got == {1: "b0", 2: "b2", 3: "t", 10: "b1"}
    # one committed version per micro-batch, target still at v0
    assert tbl.versions() == [0, 1, 2, 3]
    assert {r.k: r.v for r in tbl.read(spark, 0).collect()} == {
        1: "t", 2: "t", 3: "t"
    }
    # the law: streaming apply == folding the batches through the
    # batch merge (ONE shared merge implementation)
    folded = target
    for rows in BATCHES:
        folded = merge_upsert(
            folded, df_(spark, rows), ["k"], delete_condition=delete
        )
    assert {r.k: r.v for r in folded.collect()} == got


def test_stream_merge_schema_evolution_widens_snapshot(spark, tmp_path):
    """A drifted-schema stream (new column c) widens the versioned
    snapshot on its first batch; later reads see the evolved table and
    the result equals folding the batches through the batch evolved
    merge — the stream==batch law extended to schema evolution."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = df_(spark, [(1, "t"), (2, "t"), (3, "t")])
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(target)
    d = tmp_path / "stream_evo"
    d.mkdir()
    evo_batches = [[(1, "b0", "web")], [(10, "b1", None), (2, "b1", "app")]]
    base = 1_700_000_000
    for i, rows in enumerate(evo_batches):
        p = d / f"b{i:03d}.parquet"
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([r[0] for r in rows], pa.int64()),
                    "v": pa.array([r[1] for r in rows], pa.string()),
                    "c": pa.array([r[2] for r in rows], pa.string()),
                }
            ),
            p,
        )
        os.utime(p, (base + i * 60, base + i * 60))
    sdf = (
        spark.readStream.schema("k long, v string, c string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    final = stream_merge_apply(sdf, tbl, ["k"], schema_evolution=True)
    assert final.columns == ["k", "v", "c"]
    got = {r.k: (r.v, r.c) for r in final.collect()}
    assert got == {
        1: ("b0", "web"),
        2: ("b1", "app"),
        3: ("t", None),  # untouched: evolved column NULL
        10: ("b1", None),
    }
    # fold the same batches through the batch evolved merge
    folded = target
    for rows in evo_batches:
        folded = merge_upsert(
            folded,
            spark.createDataFrame(rows, "k long, v string, c string"),
            ["k"],
            schema_evolution=True,
        )
    assert {r.k: (r.v, r.c) for r in folded.collect()} == got


def test_vacuum_keeps_current_and_newest(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a")]))
    for i in range(4):
        tbl.commit(df_(spark, [(1, f"v{i}")]))
    assert tbl.versions() == [0, 1, 2, 3, 4]
    dropped = tbl.vacuum(keep_last=2)
    assert dropped == [0, 1, 2]
    assert tbl.versions() == [3, 4]
    # current still reads; vacuumed versions are gone for time travel
    assert [r.v for r in tbl.read(spark).collect()] == ["v3"]
    with pytest.raises(Exception):
        tbl.read(spark, 0).collect()
    with pytest.raises(ValueError, match=">= 1"):
        tbl.vacuum(keep_last=0)


def test_compact_restores_file_count_with_identical_data(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    # a fragmented commit: 16 shuffle partitions → many small files
    tbl.init(spark.range(1000).repartition(16).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    ))
    assert tbl.file_count() == 16
    v = tbl.compact(spark, target_files=2)
    assert v == 1 and tbl.file_count() <= 2
    # bit-identical data, pre-compaction version still time-travelable
    before, after = tbl.read(spark, 0), tbl.read(spark)
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0
    assert tbl.file_count(0) == 16


def test_stream_scd2_multi_batch_equals_rebuild(spark, tmp_path):
    """Three time-ordered event batches streamed through the SCD2
    apply must equal the one-shot rebuild over all events — the
    multi-batch case the fixture query (one file → one batch) can't
    exercise."""
    from kaj_query_engine_spark.operators.maintenance import scd2_from_events
    from kaj_query_engine_spark.streaming.ops import stream_scd2_apply
    import pandas as pd

    batches = [
        [(1, 1, "2024-03-01 10:00:00", "a"), (2, 2, "2024-03-01 10:01:00", "a")],
        [(3, 1, "2024-03-01 10:05:00", "a"),   # same state → collapses
         (4, 1, "2024-03-01 10:06:00", "b")],
        [(5, 2, "2024-03-01 10:09:00", "c"), (6, 3, "2024-03-01 10:10:00", "n")],
    ]
    d = tmp_path / "stream"
    d.mkdir()
    base = 1_700_000_000
    all_rows = []
    for i, rows in enumerate(batches):
        p = d / f"b{i:03d}.parquet"
        pq.write_table(
            pa.table({
                "id": pa.array([r[0] for r in rows], pa.int64()),
                "k": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array(
                    [pd.Timestamp(r[2]) for r in rows], pa.timestamp("us")
                ),
                "st": pa.array([r[3] for r in rows], pa.string()),
            }),
            p,
        )
        os.utime(p, (base + i * 60, base + i * 60))
        all_rows += rows
    full_df = spark.createDataFrame(
        [(r[0], r[1], pd.Timestamp(r[2]).to_pydatetime(), r[3]) for r in all_rows],
        "id long, k long, ts timestamp, st string",
    )
    tbl = VersionedTable(tmp_path / "dim")
    empty = spark.createDataFrame(
        [], "k long, state string, valid_from_us long, valid_to_us long, is_current boolean"
    )
    tbl.init(empty)
    sdf = (
        spark.readStream.schema("id long, k long, ts timestamp, st string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    final = stream_scd2_apply(sdf, tbl, "k", "ts", "st", tiebreak="id")
    rebuilt = scd2_from_events(full_df, "k", "ts", "st", tiebreak="id")
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    # one commit per micro-batch on top of the empty init
    assert tbl.versions() == [0, 1, 2, 3]


def test_stream_agg_state_multi_batch_equals_recompute(spark, tmp_path):
    """Associativity made visible: the same rows in 3 micro-batches
    converge to the recompute state regardless of batching."""
    from pyspark.sql import functions as F
    from kaj_query_engine_spark.streaming.ops import stream_agg_state_apply

    batches = [
        [(1, 10.0), (2, 5.0)],
        [(1, -2.0)],
        [(2, 30.0), (3, 7.0)],
    ]
    d = tmp_path / "stream"
    d.mkdir()
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        p = d / f"b{i:03d}.parquet"
        pq.write_table(
            pa.table({
                "k": pa.array([r[0] for r in rows], pa.int64()),
                "x": pa.array([r[1] for r in rows], pa.float64()),
            }),
            p,
        )
        os.utime(p, (base + i * 60, base + i * 60))

    def state_of(df):
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"),
            F.min("x").alias("mn"), F.max("x").alias("mx"),
        )

    tbl = VersionedTable(tmp_path / "state")
    tbl.init(state_of(spark.createDataFrame([], "k long, x double")))
    sdf = (
        spark.readStream.schema("k long, x double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    final = stream_agg_state_apply(
        sdf, tbl, ["k"], state_of,
        {"n": "a + b", "s": "a + b", "mn": "least(a, b)",
         "mx": "greatest(a, b)"},
    )
    flat = [r for b in batches for r in b]
    recompute = state_of(spark.createDataFrame(flat, "k long, x double"))
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, recompute.collect())
    )
    assert tbl.versions() == [0, 1, 2, 3]


def test_first_batch_init_records_batch_id(spark, tmp_path):
    """commit(df, batch_id=N) on an UNINITIALIZED table must still
    record N: the very first delivered micro-batch creating the table
    is exactly the crash window where dropping the id would double-
    apply on re-delivery."""
    tbl = VersionedTable(tmp_path / "t")
    assert tbl.commit(df_(spark, [(1, "a")]), batch_id=0) == 0
    assert tbl.last_applied_batch() == 0
    tbl.commit(df_(spark, [(1, "a"), (2, "b")]), batch_id=1)
    assert tbl.last_applied_batch() == 1


def test_compact_carries_applied_batch_forward(spark, tmp_path):
    """compact() rewrites the same logical state, so the last applied
    streaming batch is unchanged — the marker must survive compaction
    or the next at-least-once re-delivery double-applies."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a")]))
    tbl.commit(df_(spark, [(1, "a"), (2, "b")]), batch_id=7)
    assert tbl.last_applied_batch() == 7
    tbl.compact(spark, target_files=1)
    assert tbl.last_applied_batch() == 7
    # and a table that never saw a streaming commit stays None
    tbl2 = VersionedTable(tmp_path / "t2")
    tbl2.init(df_(spark, [(1, "a")]))
    tbl2.compact(spark, target_files=1)
    assert tbl2.last_applied_batch() is None


def test_stream_join_view_multi_batch_and_redelivery(spark, tmp_path):
    """Join-view maintenance across micro-batches equals the one-shot
    recompute, and (the append is not idempotent) a lost-checkpoint
    re-delivery must not append delta rows twice."""
    from kaj_query_engine_spark.streaming.ops import stream_join_view_apply

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, lv string"
    )
    batches = [[(1, 10.0), (2, 20.0)], [(1, 11.0)], [(3, 30.0), (9, 99.0)]]
    d = tmp_path / "stream"
    d.mkdir()
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        p = d / f"b{i:03d}.parquet"
        pq.write_table(
            pa.table({
                "k": pa.array([r[0] for r in rows], pa.int64()),
                "x": pa.array([r[1] for r in rows], pa.float64()),
            }),
            p,
        )
        os.utime(p, (base + i * 60, base + i * 60))
    tbl = VersionedTable(tmp_path / "view")
    empty = spark.createDataFrame([], "k long, lv string, x double")
    tbl.init(empty)

    def run():
        sdf = (
            spark.readStream.schema("k long, x double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(d))
        )
        return stream_join_view_apply(sdf, tbl, left, ["k"])

    final = run()
    flat = [r for b in batches for r in b]
    recompute = left.join(
        spark.createDataFrame(flat, "k long, x double"), on=["k"]
    )
    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert canon(final) == canon(recompute)  # k=9 has no left row
    assert tbl.versions() == [0, 1, 2, 3]
    assert tbl.last_applied_batch() == 2
    # lost checkpoint -> every batch re-delivered under its original
    # id; all ids <= last_applied_batch, so nothing appends twice
    import shutil

    shutil.rmtree(tbl.path / "_checkpoint")
    assert canon(run()) == canon(recompute)
    assert tbl.versions() == [0, 1, 2, 3]


def test_stream_join_view_cdc_multi_batch(spark, tmp_path):
    """The keyed CDC apply: updates move view rows, deletes remove
    them, delete-then-reinsert across batches folds correctly, and the
    final view equals recomputing from the folded dimension state."""
    from kaj_query_engine_spark.streaming.ops import (
        stream_join_view_cdc_apply,
    )

    left = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 30), (5, 40)], "rid long, k long"
    )
    dim0 = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "c")], "k long, v string"
    )
    batches = [
        [("U", 10, "a2"), ("D", 30, None)],   # move k=10, drop k=30
        [("D", 40, None), ("I", 40, "d")],    # delete absent, then...
        [("U", 40, "d2"), ("I", 30, "c2")],   # ...update it; reinsert 30
    ]
    d = tmp_path / "cdc"
    d.mkdir()
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        p = d / f"b{i:03d}.parquet"
        pq.write_table(
            pa.table({
                "op": pa.array([r[0] for r in rows], pa.string()),
                "k": pa.array([r[1] for r in rows], pa.int64()),
                "v": pa.array([r[2] for r in rows], pa.string()),
            }),
            p,
        )
        os.utime(p, (base + i * 60, base + i * 60))
    tbl = VersionedTable(tmp_path / "view")
    tbl.init(left.join(dim0, "k"))
    sdf = (
        spark.readStream.schema("op string, k long, v string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    final = stream_join_view_cdc_apply(sdf, tbl, left, ["k"])
    dim_final = spark.createDataFrame(
        [(10, "a2"), (20, "b"), (30, "c2"), (40, "d2")], "k long, v string"
    )
    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert canon(final) == canon(left.join(dim_final, "k"))
    assert tbl.versions() == [0, 1, 2, 3]
    assert tbl.last_applied_batch() == 2


def test_stream_merge_checkpoint_exactly_once_pickup(spark, tmp_path):
    """The exactly-once contract of the foreachBatch maintenance
    family: re-running the stream over the same checkpoint commits
    NOTHING (processed files are remembered), and a newly landed file
    produces exactly one more commit containing only its changes."""
    target = df_(spark, [(1, "t"), (2, "t"), (3, "t")])
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(target)
    stream_dir = _write_batches(tmp_path)

    def run():
        sdf = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(stream_dir)
        )
        return stream_merge_apply(
            sdf, tbl, ["k"], delete_condition=F.col("v") == "DEL"
        )

    first = {r.k: r.v for r in run().collect()}
    assert tbl.versions() == [0, 1, 2, 3]

    # restart over the SAME checkpoint: zero new commits, state intact
    again = {r.k: r.v for r in run().collect()}
    assert again == first
    assert tbl.versions() == [0, 1, 2, 3]

    # a new file lands: exactly ONE more commit, applying only it
    p = os.path.join(stream_dir, "b999.parquet")
    pq.write_table(
        pa.table({"k": pa.array([99], pa.int64()),
                  "v": pa.array(["late"], pa.string())}),
        p,
    )
    os.utime(p, (1_700_099_000, 1_700_099_000))
    final = {r.k: r.v for r in run().collect()}
    assert tbl.versions() == [0, 1, 2, 3, 4]
    assert final == {**first, 99: "late"}


def test_stream_agg_state_redelivery_does_not_double_add(spark, tmp_path):
    """The algebraic add is NOT naturally idempotent, so the agg-state
    path records each commit's foreachBatch id with the version and
    skips re-delivered ids. Simulate the at-least-once crash window
    (sink committed, streaming checkpoint commit lost) by deleting the
    newest checkpoint commit file and re-running: Spark re-delivers
    the last batch with the SAME batch id — state must not change."""
    from pyspark.sql import functions as F
    from kaj_query_engine_spark.streaming.ops import stream_agg_state_apply

    batches = [[(1, 10.0), (2, 5.0)], [(1, 3.0)], [(2, 30.0), (3, 7.0)]]
    d = tmp_path / "stream"
    d.mkdir()
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        p = d / f"b{i:03d}.parquet"
        pq.write_table(
            pa.table({
                "k": pa.array([r[0] for r in rows], pa.int64()),
                "x": pa.array([r[1] for r in rows], pa.float64()),
            }),
            p,
        )
        os.utime(p, (base + i * 60, base + i * 60))

    def state_of(df):
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"),
        )

    merge = {"n": "a + b", "s": "a + b"}
    tbl = VersionedTable(tmp_path / "state")
    tbl.init(state_of(spark.createDataFrame([], "k long, x double")))

    def run():
        sdf = (
            spark.readStream.schema("k long, x double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(d))
        )
        return stream_agg_state_apply(sdf, tbl, ["k"], state_of, merge)

    first = sorted(map(tuple, run().collect()))
    assert tbl.last_applied_batch() == 2

    # crash window: the sink table committed through batch 2 but the
    # streaming checkpoint was lost -> a restart re-delivers every
    # batch under its original id (0,1,2). All ids are <= the
    # recorded last_applied_batch, so every re-delivery is skipped and
    # the state must come out unchanged. (Deleting just the newest
    # checkpoint commit file would be the narrower window, but Spark's
    # checkpoint manager rejects a truncated commit log as concurrent
    # use, so the lost-checkpoint form is the faithful simulable one.)
    import shutil

    shutil.rmtree(tbl.path / "_checkpoint")
    again = sorted(map(tuple, run().collect()))
    assert again == first  # re-delivery skipped, no double add
    assert tbl.last_applied_batch() == 2


# ---- O(Δ) commit contract (manifest-based versions) ----------------
#
# The round-8 review's one "weak" item: full-snapshot rewrites per
# micro-batch. These pins hold the cure in place — bytes WRITTEN per
# incremental commit scale with the delta, untouched files are carried
# forward byte-identical (path + mtime), and vacuum's reference-counted
# GC never collects a file a surviving manifest still names.


def test_commit_append_writes_only_delta_bytes(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    big = spark.range(200_000).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    tbl.init(big)
    base_bytes = tbl.bytes_added(0)
    before = {
        f["path"]: (tbl.path / f["path"]).stat().st_mtime_ns
        for f in tbl.manifest(0)["files"]
    }
    tbl.commit_append(df_(spark, [(1_000_001, "d1"), (1_000_002, "d2")]))
    # the delta commit wrote a tiny fraction of the table's bytes
    assert tbl.bytes_added(1) < base_bytes / 10
    # every v0 file is referenced by v1 verbatim, byte-identical
    man1 = {f["path"] for f in tbl.manifest(1)["files"]}
    for path, mtime in before.items():
        assert path in man1
        assert (tbl.path / path).stat().st_mtime_ns == mtime
    assert tbl.read(spark).count() == 200_002


def test_commit_keyed_rewrites_only_touched_buckets(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    big = spark.range(100_000).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    tbl.init(big, bucket_keys=["k"], n_buckets=8)
    base_bytes = tbl.bytes_added(0)
    touched = spark.createDataFrame([(5,), (77,)], "k long")
    repl = df_(spark, [(5, "FIVE"), (77, "SEVENTY-SEVEN")])
    tbl.commit_keyed(repl, touched)
    # only the touched keys' buckets were rewritten
    tb = {
        r[0]
        for r in touched.select(tbl._kb_expr().alias("b")).distinct().collect()
    }
    assert tbl.bytes_added(1) < base_bytes * (len(tb) / 8) * 1.5
    man0 = {f["path"]: f["kb"] for f in tbl.manifest(0)["files"]}
    man1 = {f["path"]: f["kb"] for f in tbl.manifest(1)["files"]}
    for path, kb in man0.items():
        if kb not in tb:  # untouched bucket: file carried forward
            assert path in man1
        else:  # touched bucket: file replaced
            assert path not in man1
    got = {r.k: r.v for r in tbl.read(spark).collect() if r.k in (5, 77, 9)}
    assert got == {5: "FIVE", 77: "SEVENTY-SEVEN", 9: "9"}
    assert tbl.read(spark).count() == 100_000


def test_commit_keyed_deletes_and_unbucketed_degenerate(spark, tmp_path):
    # keyed commit with an empty replacement = pure delete
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a"), (2, "b"), (3, "c")]),
             bucket_keys=["k"], n_buckets=4)
    tbl.commit_keyed(
        spark.createDataFrame([], SCHEMA),
        spark.createDataFrame([(2,)], "k long"),
    )
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 3]
    # unbucketed table: same semantics, full rewrite (correct, not O(Δ))
    tbl2 = VersionedTable(tmp_path / "t2")
    tbl2.init(df_(spark, [(1, "a"), (2, "b")]))
    tbl2.commit_keyed(
        df_(spark, [(2, "B2"), (9, "new")]),
        spark.createDataFrame([(2,), (9,)], "k long"),
    )
    assert {r.k: r.v for r in tbl2.read(spark).collect()} == {
        1: "a", 2: "B2", 9: "new"
    }
    with pytest.raises(ValueError, match="initialized"):
        VersionedTable(tmp_path / "t3").commit_keyed(
            df_(spark, [(1, "a")]), spark.createDataFrame([(1,)], "k long")
        )


def test_commit_keyed_schema_evolution_reads_old_files_null(spark, tmp_path):
    """A widened replacement evolves the manifest schema; files from
    BEFORE the evolution (untouched buckets) are never rewritten and
    read the new column as NULL."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(20)]),
             bucket_keys=["k"], n_buckets=4)
    repl = spark.createDataFrame([(3, "V3", "web")], "k long, v string, c string")
    tbl.commit_keyed(repl, spark.createDataFrame([(3,)], "k long"))
    cur = tbl.read(spark)
    assert cur.columns == ["k", "v", "c"]
    got = {r.k: (r.v, r.c) for r in cur.collect()}
    assert got[3] == ("V3", "web")
    assert all(got[k] == (f"v{k}", None) for k in got if k != 3)
    # at least one v0 file survived un-rewritten into v1
    man0 = {f["path"] for f in tbl.manifest(0)["files"]}
    man1 = {f["path"] for f in tbl.manifest(1)["files"]}
    assert man0 & man1


def test_vacuum_refcounted_gc_keeps_carried_files(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, "base") for i in range(50)]))
    for i in range(3):
        tbl.commit_append(df_(spark, [(100 + i, f"d{i}")]))
    v0_files = [f["path"] for f in tbl.manifest(0)["files"]]
    dropped = tbl.vacuum(keep_last=1)
    assert dropped == [0, 1, 2]
    # v0's data files are REFERENCED by the surviving v3 manifest:
    # reference-counted GC must keep them, and the table still reads
    for p in v0_files:
        assert (tbl.path / p).exists()
    assert tbl.read(spark).count() == 53
    # a full-snapshot commit then orphans everything older; vacuum
    # now collects the old files for real
    tbl.commit(tbl.read(spark))
    tbl.vacuum(keep_last=1)
    for p in v0_files:
        assert not (tbl.path / p).exists()
    assert tbl.read(spark).count() == 53


def test_compact_bucketed_one_file_per_bucket(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(100)]),
             bucket_keys=["k"], n_buckets=4)
    for i in range(5):
        tbl.commit_append(df_(spark, [(200 + i, f"d{i}")]))
    frag = tbl.file_count()
    v = tbl.compact(spark)
    assert tbl.file_count(v) <= 4 < frag
    before, after = tbl.read(spark, v - 1), tbl.read(spark)
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


def test_random_commit_sequences_match_dict_model(spark, tmp_path):
    """Model-based pin of the manifest machinery: random sequences of
    full-snapshot / append / keyed / compact / vacuum — plus, on
    bucketed tables, a whole spec change (start_rebucket, then
    rebucket_step to completion) and the LAZY migration pair
    start_rebucket / rebucket_step on their own (arbitrary
    interleavings of other commits while the table is mixed-spec,
    including a second retarget mid-migration) — must keep
    (a) the current read equal to a plain dict model, (b) every
    un-vacuumed version equal to the model snapshot recorded when it
    was committed, and (c) read_buckets for any probed key a
    key-complete SUBSET of the table — across bucketed and unbucketed
    tables, with history surviving carried-file GC and spec changes."""
    import random

    rng = random.Random(90210)
    for case in range(6):
        bucketed = case % 2 == 0
        tbl = VersionedTable(tmp_path / f"m{case}")
        model = {k: f"v{k}" for k in rng.sample(range(100), 12)}
        if bucketed:
            tbl.init(df_(spark, sorted(model.items())),
                     bucket_keys=["k"], n_buckets=rng.choice([2, 4, 8]))
        else:
            tbl.init(df_(spark, sorted(model.items())))
        history = {0: dict(model)}
        fresh = 1000  # append-only key counter
        ops = ["full", "append", "keyed", "compact", "vacuum"]
        if bucketed:
            ops += ["rebucket", "start_rebucket", "rebucket_step"]
        for _ in range(7):
            op = rng.choice(ops)
            if op == "rebucket":
                # a whole spec change: retarget, then migrate every
                # old-spec bucket; each step version is a snapshot too
                v = tbl.start_rebucket(rng.choice([2, 4, 8, 16]))
                while (step := tbl.rebucket_step(spark)) is not None:
                    history[v] = dict(model)
                    v = step
            elif op == "start_rebucket":
                # metadata-only retarget — legal mid-migration too
                # (multi-hop: files keep the spec they are actually on)
                v = tbl.start_rebucket(rng.choice([2, 4, 8, 16]))
            elif op == "rebucket_step":
                v = tbl.rebucket_step(spark, max_buckets=rng.choice([1, 2]))
                if v is None:  # nothing pending: stable no-op
                    v = tbl.current_version()
            elif op == "full":
                model = {k: f"f{k}" for k in rng.sample(range(100), rng.randint(0, 15))}
                v = tbl.commit(df_(spark, sorted(model.items())))
            elif op == "append":
                new = {fresh + i: f"a{fresh + i}" for i in range(rng.randint(0, 4))}
                fresh += 10
                model.update(new)
                v = tbl.commit_append(df_(spark, sorted(new.items())))
            elif op == "keyed":
                ups = {k: f"u{k}" for k in rng.sample(range(100), rng.randint(0, 5))}
                dels = set(rng.sample(sorted(model) or [0], min(2, len(model))))
                touched = sorted(set(ups) | dels)
                for k in touched:
                    model.pop(k, None)
                model.update(ups)
                v = tbl.commit_keyed(
                    df_(spark, sorted(ups.items())),
                    spark.createDataFrame([(k,) for k in touched] or [], "k long"),
                )
            elif op == "compact":
                v = tbl.compact(spark)
            else:
                keep = rng.randint(1, 3)
                tbl.vacuum(keep_last=keep)
                dropped = [h for h in history if h not in tbl.versions()]
                for h in dropped:
                    del history[h]
                v = tbl.current_version()
            history[v] = dict(model)
            got = {r.k: r.v for r in tbl.read(spark).collect()}
            assert got == model, (case, op, v)
            if bucketed:
                # pruned-read law: for any probed key (present or
                # absent), read_buckets returns a subset of the table
                # that is COMPLETE for that key — under every bucket
                # spec and file layout the sequence wanders through
                probe = rng.choice(sorted(model) + [fresh + 999])
                rb = {
                    r.k: r.v
                    for r in tbl.read_buckets(
                        spark, spark.createDataFrame([(probe,)], "k long")
                    ).collect()
                }
                assert set(rb.items()) <= set(model.items()), (case, op, probe)
                assert (probe in rb) == (probe in model), (case, op, probe)
        # time travel: every surviving version reads its snapshot
        for v, snap in history.items():
            got = {r.k: r.v for r in tbl.read(spark, v).collect()}
            assert got == snap, (case, "travel", v)


def test_history_and_auto_compaction(spark, tmp_path):
    """history() reports per-version footprint and write amplification;
    stray_bytes() counts the unfolded append deltas (the cost every
    keyed commit pays re-reading them) until compaction folds them."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(
        spark.range(20_000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("v"),
        ),
        bucket_keys=["k"],
        n_buckets=4,
    )
    assert tbl.stray_bytes() == 0
    for i in range(3):
        tbl.commit_append(
            df_(spark, [(10_000 + 10 * i + j, "a") for j in range(5)]),
            batch_id=i,
        )
    h = tbl.history()
    assert [r["version"] for r in h] == [0, 1, 2, 3]
    assert h[0]["applied_batch"] is None and h[3]["applied_batch"] == 2
    # append commits: tiny bytes_added on a growing bytes_total,
    # stray files accumulating
    assert h[3]["bytes_total"] > h[3]["bytes_added"]
    assert all(r["bytes_added"] < h[0]["bytes_added"] for r in h[1:])
    assert h[3]["n_stray_files"] > 0 and tbl.stray_bytes() > 0
    tbl.compact(spark)
    assert tbl.stray_bytes() == 0


def test_concurrent_reader_never_sees_torn_state(spark, tmp_path):
    """The atomicity claim, exercised for real: a reader thread
    resolves the pointer and reads WHILE the writer commits keyed
    deltas. Every read must equal one of the committed model states —
    never a mix, never a partial write. (Single-writer multi-READER is
    in the design contract; this pins it.)"""
    import threading

    tbl = VersionedTable(tmp_path / "t")
    # version v's state: keys 0..99, values f"g{v}" for updated keys
    tbl.init(df_(spark, [(k, "g0") for k in range(100)]),
             bucket_keys=["k"], n_buckets=4)
    valid = {frozenset((k, "g0") for k in range(100))}
    seen, errors = [], []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                rows = frozenset(
                    (r.k, r.v) for r in tbl.read(spark).collect()
                )
                seen.append(rows)
            except Exception as ex:  # torn read = failure
                errors.append(repr(ex))
                return

    th = threading.Thread(target=reader)
    th.start()
    state = {k: "g0" for k in range(100)}
    try:
        for gen in range(1, 6):
            ups = {k: f"g{gen}" for k in range(gen * 7, gen * 7 + 20)}
            state.update(ups)
            tbl.commit_keyed(
                df_(spark, sorted(ups.items())),
                spark.createDataFrame([(k,) for k in ups], "k long"),
            )
            valid.add(frozenset(state.items()))
    finally:
        stop.set()
        th.join(timeout=60)
    assert not errors, errors
    assert seen, "reader never completed a read"
    torn = [s for s in seen if s not in valid]
    assert not torn, f"reader saw {len(torn)} torn states"


def test_change_data_feed_records_and_replays(spark, tmp_path):
    """CDF contract: every commit's effective I/U/D rows replay from
    the feed (inserts reuse the append's own data files; keyed commits
    record a snapshot_diff of touched pre/post images, netting
    bit-identical no-op upserts away); compaction reads through as
    changeless; a full-snapshot commit breaks the feed; vacuum keeps a
    surviving version's change files."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a"), (2, "b"), (3, "c")]),
             bucket_keys=["k"], n_buckets=2, change_feed=True)
    assert tbl.has_change_feed
    # v1: pure append -> I rows from the delta's own files
    tbl.commit_append(df_(spark, [(10, "x"), (11, "y")]))
    # v2: keyed with update + delete + no-op upsert + insert
    tbl.commit_keyed(
        df_(spark, [(1, "A"), (2, "b"), (42, "new")]),  # (2,'b') = no-op
        spark.createDataFrame([(1,), (2,), (3,), (42,)], "k long"),
    )
    # v3: compaction (changeless)
    tbl.compact(spark)
    feed = tbl.read_changes(spark, 0)
    got = sorted((r._commit_version, r.op, r.k, r.v) for r in feed.collect())
    assert got == [
        (1, "I", 10, "x"), (1, "I", 11, "y"),
        (2, "D", 3, "c"), (2, "I", 42, "new"), (2, "U", 1, "A"),
    ]
    # windowed read: only v2's changes
    assert {r.op for r in tbl.read_changes(spark, 1, 2).collect()} == {
        "I", "U", "D"
    }
    # the feed replays to the final state: apply ops onto v0
    state = {r.k: r.v for r in tbl.read(spark, 0).collect()}
    for _, op, k, v in got:
        if op == "D":
            state.pop(k)
        else:
            state[k] = v
    assert state == {r.k: r.v for r in tbl.read(spark).collect()}
    # vacuum: v2's change files survive while v2 survives
    tbl.vacuum(keep_last=2)  # keeps v2 (has cdf files), v3, current
    assert {r.op for r in tbl.read_changes(spark, 1, 2).collect()} == {
        "I", "U", "D"
    }
    # a full-snapshot commit breaks the feed across it
    tbl.commit(df_(spark, [(1, "z")]))
    with pytest.raises(ValueError, match="full-snapshot"):
        tbl.read_changes(spark, 2).collect()
    # an un-fed table refuses cleanly
    tbl2 = VersionedTable(tmp_path / "t2")
    tbl2.init(df_(spark, [(1, "a")]))
    tbl2.commit_append(df_(spark, [(2, "b")]))
    with pytest.raises(ValueError, match="disabled"):
        tbl2.read_changes(spark, 0)
    # empty range on a fed table: empty frame, stable schema
    t3 = VersionedTable(tmp_path / "t3")
    t3.init(df_(spark, [(1, "a")]), change_feed=True)
    cf = t3.read_changes(spark, 0)
    assert cf.count() == 0 and cf.columns == ["op", "k", "v", "_commit_version"]


def test_change_feed_replay_law(spark, tmp_path):
    """apply_change_feed(read(a), read_changes(a, b)) == read(b) for
    EVERY version pair of a key-unique fed table — the law that makes
    the recorded feed a substitute for snapshot diffing."""
    import random

    from kaj_query_engine_spark.sources.versioned import (
        apply_change_feed,
    )

    rng = random.Random(424242)
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(k, f"v{k}") for k in range(40)]),
             bucket_keys=["k"], n_buckets=4, change_feed=True)
    fresh = 100
    for step in range(4):
        if step % 2 == 0:
            ups = {k: f"u{step}k{k}" for k in rng.sample(range(40), 6)}
            dels = set(rng.sample(range(40), 2)) - set(ups)
            touched = sorted(set(ups) | dels)
            tbl.commit_keyed(
                df_(spark, sorted(ups.items())),
                spark.createDataFrame([(k,) for k in touched], "k long"),
            )
        else:
            tbl.commit_append(
                df_(spark, [(fresh + j, f"a{fresh + j}") for j in range(3)])
            )
            fresh += 10
    vs = tbl.versions()
    for a in vs:
        for b in vs:
            if a >= b:
                continue
            replayed = apply_change_feed(
                tbl.read(spark, a), tbl.read_changes(spark, a, b), ["k"]
            )
            want = sorted(map(tuple, tbl.read(spark, b).collect()))
            got = sorted(map(tuple, replayed.collect()))
            assert got == want, (a, b)


def test_append_never_narrows_an_evolved_schema(spark, tmp_path):
    """Regression (caught in review): commit_append recorded the
    DELTA's schema verbatim, so an append omitting a previously-evolved
    column silently narrowed the table — the manifest schema must be
    stored ∪ delta."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a"), (2, "b")]), bucket_keys=["k"], n_buckets=2)
    # evolve via keyed commit: new column c
    tbl.commit_keyed(
        spark.createDataFrame([(1, "A", "web")], "k long, v string, c string"),
        spark.createDataFrame([(1,)], "k long"),
    )
    assert tbl.read(spark).columns == ["k", "v", "c"]
    # append with the OLD two-column shape
    tbl.commit_append(df_(spark, [(9, "x")]))
    cur = tbl.read(spark)
    assert cur.columns == ["k", "v", "c"]  # schema kept, not narrowed
    got = {r.k: (r.v, r.c) for r in cur.collect()}
    assert got == {1: ("A", "web"), 2: ("b", None), 9: ("x", None)}
    # and a widening append evolves forward
    tbl.commit_append(
        spark.createDataFrame([(10, "y", None, 7)],
                              "k long, v string, c string, d long")
    )
    assert tbl.read(spark).columns == ["k", "v", "c", "d"]


def test_feed_preimages_and_signed_agg_law(spark, tmp_path):
    """Update pre-images ride the feed as op='U-'; with both images a
    signed consumer maintains SUM/COUNT exactly:
    agg(b) == agg(a) + feed_agg_delta(changes a→b) across keyed
    commits with updates, deletes, re-inserts and appends."""
    from pyspark.sql import functions as F

    from kaj_query_engine_spark.sources.versioned import feed_agg_delta

    tbl = VersionedTable(tmp_path / "t")
    rows = [(k, k * 100) for k in range(30)]
    tbl.init(
        spark.createDataFrame(rows, "k long, x long"),
        bucket_keys=["k"], n_buckets=4, change_feed=True,
    )
    tbl.commit_keyed(  # update 3 keys, delete 2
        spark.createDataFrame([(1, 7), (2, 9), (3, 11)], "k long, x long"),
        spark.createDataFrame([(1,), (2,), (3,), (4,), (5,)], "k long"),
    )
    tbl.commit_append(
        spark.createDataFrame([(100, 1000), (101, 1001)], "k long, x long")
    )
    tbl.commit_keyed(  # re-insert a deleted key
        spark.createDataFrame([(4, 44)], "k long, x long"),
        spark.createDataFrame([(4,)], "k long"),
    )
    # default read hides pre-images; opt-in shows exactly the U keys'
    full = tbl.read_changes(spark, 0, include_preimages=True)
    assert sorted(
        r.k for r in full.filter(F.col("op") == "U-").collect()
    ) == [1, 2, 3]
    assert "U-" not in {r.op for r in tbl.read_changes(spark, 0).collect()}

    def agg(df):
        r = df.agg(F.count(F.lit(1)), F.coalesce(F.sum("x"), F.lit(0))).first()
        return (r[0], r[1])

    vs = tbl.versions()
    for a in vs:
        for b in vs:
            if a >= b:
                continue
            n_a, s_a = agg(tbl.read(spark, a))
            n_b, s_b = agg(tbl.read(spark, b))
            d = feed_agg_delta(
                tbl.read_changes(spark, a, b, include_preimages=True), ["x"]
            ).first()
            assert (n_a + d.d_count, s_a + d.d_x) == (n_b, s_b), (a, b)


def test_review_guards_type_cast_preimage_tie_uninit(spark, tmp_path):
    """Round-9 review findings, pinned: (a) an int-typed key frame on a
    long-keyed table must hit the SAME buckets (xxhash64 is
    type-sensitive — uncast, the wrong bucket set silently duplicates
    rows); (b) apply_change_feed over a preimage-bearing feed must not
    replay stale 'U-' values; (c) read_changes on an uninitialized
    table raises the module's ValueError, not a TypeError."""
    from pyspark.sql import functions as F

    from kaj_query_engine_spark.sources.versioned import apply_change_feed

    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(k, f"v{k}") for k in range(40)]),
             bucket_keys=["k"], n_buckets=8, change_feed=True)
    # (a) touched/replacement keys as INT, table keyed LONG
    repl = spark.createDataFrame([(5, "INT5")], "k int, v string")
    tk = spark.createDataFrame([(5,)], "k int")
    tbl.commit_keyed(repl, tk)
    rows = tbl.read(spark).filter(F.col("k") == 5).collect()
    assert [(r.k, r.v) for r in rows] == [(5, "INT5")]  # no duplicate
    assert tbl.read(spark).count() == 40
    # read_buckets with an int frame finds the long key's bucket
    got = tbl.read_buckets(spark, tk).filter(F.col("k") == 5).count()
    assert got == 1
    # (b) feed with preimages replays POST values deterministically
    feed = tbl.read_changes(spark, 0, include_preimages=True)
    out = apply_change_feed(tbl.read(spark, 0), feed, ["k"])
    assert {r.v for r in out.filter(F.col("k") == 5).collect()} == {"INT5"}
    # (c) uninitialized table: clear ValueError
    with pytest.raises(ValueError, match="uninitialized"):
        VersionedTable(tmp_path / "nope").read_changes(spark, 0)


def test_compact_feed_marker_is_atomic_with_manifest(spark, tmp_path):
    """The changeless marker rides IN the compaction commit's manifest
    (a post-hoc patch left a crash window after the pointer swap where
    the feed looked broken): immediately after compact, the manifest
    already carries cdf=empty and the feed reads through."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a")]), bucket_keys=["k"], n_buckets=2,
             change_feed=True)
    tbl.commit_append(df_(spark, [(2, "b")]))
    v = tbl.compact(spark)
    assert tbl.manifest(v)["cdf"] == {"mode": "empty"}
    assert {r.k for r in tbl.read_changes(spark, 0).collect()} == {2}


# ---- round 10: file-bounded keyed rewrites + spec evolution ---------
# The round-9 review's one remaining 100× edge: the keyed rewrite unit
# was a whole hash bucket, so a table growing under a FIXED bucket
# count paid O(|table|/n_buckets) per touched bucket. These pins hold
# the cure: writes hash-range sub-split to ~target_file_rows, the
# manifest records each file's key-hash range from its parquet footer,
# and commit_keyed/read_buckets rewrite/scan only files that can
# contain a touched key — same-bucket files outside the touched ranges
# carry forward byte-identical.


def test_keyed_rewrite_unit_is_file_not_bucket(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    big = spark.range(120_000).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    # tiny target forces a multi-file sub-split inside every bucket
    tbl.init(big, bucket_keys=["k"], n_buckets=4, target_file_rows=4_096)
    man0 = tbl.manifest(0)
    per_bucket: dict[int, int] = {}
    for f in man0["files"]:
        per_bucket[f["kb"]] = per_bucket.get(f["kb"], 0) + 1
        assert f["rows"] is not None and f["rows"] <= 4_096 * 2
        assert f["khr"] is not None and f["khr"][0] <= f["khr"][1]
    assert min(per_bucket.values()) >= 4  # genuinely sub-split
    before = {
        f["path"]: (tbl.path / f["path"]).stat().st_mtime_ns
        for f in man0["files"]
    }
    touched = spark.createDataFrame([(5,), (77_001,)], "k long")
    repl = df_(spark, [(5, "FIVE"), (77_001, "NEW77K")])
    tbl.commit_keyed(repl, touched)
    man1 = tbl.manifest(1)
    rewritten = [p for p in before if p not in {f["path"] for f in man1["files"]}]
    # ≤ one file per touched key was rewritten — NOT the whole bucket —
    # and every carried file (same-bucket neighbours included) is
    # byte-identical in place
    assert len(rewritten) <= 2
    total0 = sum(f["bytes"] for f in man0["files"])
    assert tbl.bytes_added(1) < total0 / 8
    for f in man1["files"]:
        if f["path"] in before:
            assert (tbl.path / f["path"]).stat().st_mtime_ns == before[f["path"]]
    got = {r.k: r.v for r in tbl.read(spark).filter(F.col("k").isin(5, 6, 77_001)).collect()}
    assert got == {5: "FIVE", 6: "6", 77_001: "NEW77K"}
    assert tbl.read(spark).count() == 120_000


def test_read_buckets_prunes_by_file_range_and_validates(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(
        spark.range(40_000).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("v")
        ),
        bucket_keys=["k"], n_buckets=2, target_file_rows=2_048,
    )
    picked = tbl.read_buckets(spark, spark.createDataFrame([(7,)], "k long"))
    # one key → one file's rows (± a range neighbour), a small slice of
    # the 40k-row table even though its BUCKET holds ~20k rows
    n = picked.count()
    assert 0 < n <= 3 * 2_048
    assert picked.filter(F.col("k") == 7).count() == 1
    # missing bucket-key column: the descriptive error, not an opaque
    # AnalysisException from deep inside the bucket expression
    with pytest.raises(ValueError, match="missing"):
        tbl.read_buckets(spark, spark.createDataFrame([("x",)], "v string"))


def test_commit_keyed_empty_touched_short_circuits(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a"), (2, "b")]), bucket_keys=["k"], n_buckets=2)
    empty_keys = spark.createDataFrame([], "k long")
    empty_repl = spark.createDataFrame([], SCHEMA)
    v = tbl.commit_keyed(empty_repl, empty_keys)
    # logical no-op: no new version minted, no stray churn, no history
    assert v == 0 and tbl.current_version() == 0 and tbl.versions() == [0]
    # precondition violation (replacement key not covered by touched)
    # fails loudly instead of silently duplicating the key
    with pytest.raises(ValueError, match="precondition"):
        tbl.commit_keyed(df_(spark, [(1, "DUP")]), empty_keys)


def test_stray_files_prune_by_range_on_keyed_commits(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(100)]),
             bucket_keys=["k"], n_buckets=2)
    # append a stray whose key range (5000+) is disjoint from the keys
    # the next keyed commit touches
    tbl.commit_append(df_(spark, [(5_000 + i, "stray") for i in range(50)]))
    stray_paths = {
        f["path"] for f in tbl.manifest(1)["files"] if f["kb"] is None
    }
    assert stray_paths
    assert all(
        f["khr"] is not None
        for f in tbl.manifest(1)["files"]
        if f["kb"] is None
    )
    tbl.commit_keyed(
        df_(spark, [(3, "THREE")]), spark.createDataFrame([(3,)], "k long")
    )
    # the stray was NOT rewritten: carried into v2 verbatim
    man2_paths = {f["path"] for f in tbl.manifest(2)["files"]}
    assert stray_paths <= man2_paths
    got = {r.k: r.v for r in tbl.read(spark).filter(F.col("k").isin(3, 5_000)).collect()}
    assert got == {3: "THREE", 5_000: "stray"}
    assert tbl.read(spark).count() == 150


def test_rebucket_evolves_spec_preserving_history(spark, tmp_path):
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(200)]),
             bucket_keys=["k"], n_buckets=2, change_feed=True)
    tbl.commit_keyed(df_(spark, [(7, "SEVEN")]),
                     spark.createDataFrame([(7,)], "k long"))
    start = tbl.start_rebucket(8)
    steps = []
    while (step := tbl.rebucket_step(spark)) is not None:
        steps.append(step)
    assert steps and tbl.migration() is None
    v = steps[-1]
    assert tbl.n_buckets == 8
    assert tbl.manifest(v)["n_buckets"] == 8
    # old versions stay time-travelable under their own spec
    assert tbl.manifest(0)["n_buckets"] == 2
    assert tbl.read(spark, 0).count() == 200
    assert {f["kb"] for f in tbl.manifest(v)["files"]} <= set(range(8))
    # keyed commits after the rebucket prune under the NEW spec
    before = {f["path"] for f in tbl.manifest(v)["files"]}
    tbl.commit_keyed(df_(spark, [(7, "SEVEN2")]),
                     spark.createDataFrame([(7,)], "k long"))
    manN = tbl.manifest()
    carried = [f for f in manN["files"] if f["path"] in before]
    assert len(carried) >= 7  # at least the other buckets carried
    got = {r.k: r.v for r in tbl.read(spark).filter(F.col("k").isin(7, 8)).collect()}
    assert got == {7: "SEVEN2", 8: "v8"}
    # every rebucket commit is logically changeless: the feed reads
    # straight through the start and each step
    assert tbl.read_changes(spark, start - 1).filter(
        F.col("_commit_version").between(start, v)
    ).count() == 0
    # and replay across the rebucket still lands on the final state
    from kaj_query_engine_spark.sources.versioned import apply_change_feed

    replayed = apply_change_feed(
        tbl.read(spark, 0), tbl.read_changes(spark, 0), ["k"]
    )
    cur = tbl.read(spark)
    assert replayed.exceptAll(cur).count() == 0
    assert cur.exceptAll(replayed).count() == 0


def test_bulk_keyed_commit_falls_back_to_shuffle_join(spark, tmp_path):
    """Round-9 review item 3: past the broadcast cap (derived from
    autoBroadcastJoinThreshold), the keyed path must NOT broadcast the
    touched frame — a bulk backfill with millions of keys would blow
    the driver. Threshold is dropped so the cap lands in test range."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024))
    try:
        from kaj_query_engine_spark.sources.versioned import (
            _broadcast_key_cap,
        )

        cap = _broadcast_key_cap(spark)
        assert cap == 1_024  # 64KiB / 64B
        tbl = VersionedTable(tmp_path / "t")
        tbl.init(
            spark.range(30_000).select(
                F.col("id").alias("k"), F.col("id").cast("string").alias("v")
            ),
            bucket_keys=["k"], n_buckets=4,
        )
        bulk_keys = spark.range(10_000).select(F.col("id").alias("k"))
        bulk_repl = bulk_keys.select("k", F.lit("bulk").alias("v"))
        # capture the executed survivor-join plan via the write job's
        # final data: assert on the DataFrame the commit builds by
        # reproducing its join under the same guard decision
        tbl.commit_keyed(bulk_repl, bulk_keys)
        got = tbl.read(spark)
        assert got.filter(F.col("v") == "bulk").count() == 10_000
        assert got.count() == 30_000
        # the guard itself: over-cap frames must not be hinted
        from kaj_query_engine_spark.streaming.ops import _delta_join_frame

        survivors_plan = (
            tbl.read(spark)
            .join(_delta_join_frame(bulk_keys, 10_000), on=["k"], how="left_anti")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in survivors_plan
        small_plan = (
            tbl.read(spark)
            .join(
                _delta_join_frame(spark.range(5).select(F.col("id").alias("k")), 5),
                on=["k"], how="left_anti",
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in small_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_commit_keyed_unbucketed_empty_touched_contract(spark, tmp_path):
    """Round-10 review: the empty-touched no-op and the precondition
    raise must hold on UNBUCKETED tables too (they previously lived
    only in the bucketed branch, so the exact caller bug the docstring
    promises to catch silently duplicated rows instead)."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a"), (2, "b")]))
    empty_keys = spark.createDataFrame([], "k long")
    v = tbl.commit_keyed(spark.createDataFrame([], SCHEMA), empty_keys)
    assert v == 0 and tbl.versions() == [0]
    with pytest.raises(ValueError, match="precondition"):
        tbl.commit_keyed(df_(spark, [(1, "DUP")]), empty_keys)
    assert tbl.read(spark).count() == 2


def test_stray_survivors_keep_pruning_stats(spark, tmp_path):
    """Round-10 review: stray survivors rewritten by a keyed commit
    must carry full pruning metadata (rows/khr/khs) — without it, one
    touched stray was re-read and re-written by EVERY later keyed
    commit, and compact/rebucket lost their rows_hint."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(40)]),
             bucket_keys=["k"], n_buckets=2)
    tbl.commit_append(df_(spark, [(1_000 + i, "s") for i in range(10)]))
    # touch ONE stray key: its file's survivors are rewritten as strays
    tbl.commit_keyed(df_(spark, [(1_003, "S3")]),
                     spark.createDataFrame([(1_003,)], "k long"))
    man = tbl.manifest()
    strays = [f for f in man["files"] if f["kb"] is None]
    assert strays
    for f in strays:
        assert f.get("rows"), f
        assert f.get("khs") or f.get("khr"), f
    # a later keyed commit on an unrelated key must carry the
    # rewritten stray forward untouched
    before = {f["path"] for f in strays}
    tbl.commit_keyed(df_(spark, [(7, "SEVEN")]),
                     spark.createDataFrame([(7,)], "k long"))
    after = {f["path"] for f in tbl.manifest()["files"]}
    assert before <= after
    # and the manifest row sum stays available for compaction hints
    assert tbl._manifest_rows() == 50
    got = {r.k: r.v for r in tbl.read(spark).filter(
        F.col("k").isin(7, 1_003, 1_004)).collect()}
    assert got == {7: "SEVEN", 1_003: "S3", 1_004: "s"}


def test_commit_append_preserves_value_type_widening(spark, tmp_path):
    """Round-10 review: only BUCKET-KEY columns are cast to stored
    types on append — a delta widening a VALUE column must widen the
    manifest schema and keep its values, not be silently narrowed."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, c int"),
        bucket_keys=["k"], n_buckets=2,
    )
    big = 3_000_000_000  # does not fit int32
    tbl.commit_append(
        spark.createDataFrame([(3, big)], "k long, c long")
    )
    cur = tbl.read(spark)
    assert dict(cur.dtypes)["c"] == "bigint"
    assert {r.k: r.c for r in cur.collect()} == {1: 10, 2: 20, 3: big}
    # the widened stray still prunes: a keyed commit on an old key
    # carries it forward byte-identical
    strays = {f["path"] for f in tbl.manifest()["files"] if f["kb"] is None}
    tbl.commit_keyed(
        spark.createDataFrame([(1, 11)], "k long, c int"),
        spark.createDataFrame([(1,)], "k long"),
    )
    assert strays <= {f["path"] for f in tbl.manifest()["files"]}


# ---------------------------------------------------------------------
# Round 11: lazy/chunked bucket-spec migration + single-writer guard +
# keyed pruning-mode audit
# ---------------------------------------------------------------------


def test_start_rebucket_is_metadata_only_and_tags_specs(spark, tmp_path):
    """start_rebucket writes NO data: bytes_added == 0, every
    pre-migration bucketed file is tagged with its own spec, strays
    stay untagged, and the manifest's n_buckets becomes the target."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(300)]),
             bucket_keys=["k"], n_buckets=2)
    tbl.commit_append(df_(spark, [(1000, "stray")]))
    before = {f["path"] for f in tbl.manifest()["files"]}
    v = tbl.start_rebucket(8)
    assert tbl.bytes_added(v) == 0
    man = tbl.manifest(v)
    assert man["n_buckets"] == 8
    assert {f["path"] for f in man["files"]} == before  # same files
    for f in man["files"]:
        if f["kb"] is None:
            assert "nb" not in f
        else:
            assert f["nb"] == 2
    mig = tbl.migration()
    assert mig["to"] == 8
    assert sorted(mig["pending_buckets"]) == [2]
    assert mig["pending_buckets"][2] == [0, 1]
    # no-op when already entirely on the target spec
    tbl2 = VersionedTable(tmp_path / "t2")
    tbl2.init(df_(spark, [(1, "a")]), bucket_keys=["k"], n_buckets=2)
    assert tbl2.start_rebucket(2) == 0
    assert tbl2.migration() is None


def test_rebucket_step_migrates_bounded_chunks(spark, tmp_path):
    """Each step rewrites ONE old-spec bucket's files (bytes bounded
    by the chunk, not the table), reads stay correct at every
    intermediate version, and the final state is fully on the new
    spec with history intact."""
    rows = [(i, f"v{i}") for i in range(400)]
    model = dict(rows)
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, rows), bucket_keys=["k"], n_buckets=4)
    v_start = tbl.start_rebucket(2)
    steps = 0
    while True:
        man_before = tbl.manifest()
        pend = tbl.migration()
        v = tbl.rebucket_step(spark, max_buckets=1)
        if v is None:
            break
        steps += 1
        # bounded: bytes written this step <= bytes of the chunk's
        # pending files (one old bucket) plus parquet overhead slack
        chunk_bytes = sum(
            f["bytes"]
            for f in man_before["files"]
            if f.get("nb") and (f["nb"], f["kb"])
            in {(s, b) for s, bs in pend["pending_buckets"].items() for b in bs[:1]}
        )
        assert tbl.bytes_added(v) <= 3 * chunk_bytes + 8192
        # mid-migration read is complete and correct
        got = {r.k: r.v for r in tbl.read(spark).collect()}
        assert got == model
    assert steps == 4  # one per old-spec bucket
    assert tbl.migration() is None
    assert tbl.rebucket_step(spark) is None  # stable no-op
    man = tbl.manifest()
    assert man["n_buckets"] == 2
    assert all("nb" not in f for f in man["files"] if f["kb"] is not None)
    assert {f["kb"] for f in man["files"]} <= {0, 1}
    # old versions still time-travel under their own spec
    assert tbl.manifest(0)["n_buckets"] == 4
    assert tbl.read(spark, v_start).count() == 400


def test_rebucket_step_bounds_migrated_file_rows(spark, tmp_path):
    """Round-11 advice (low): when the old spec divides the new one
    (the normal power-of-two evolution, here 2 → 16), a migrated old
    bucket scatters into only nb/old_spec new buckets, so sizing the
    sub-split as rows/nb underestimated per-file rows by old_spec×
    and a migrated file could reach old_spec × target_file_rows. The
    gcd-aware sizing plus the now-unconditional post-write re-split
    net keep every migrated file within the bounded
    keyed-rewrite-unit contract."""
    n = 12_000
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(n)]),
             bucket_keys=["k"], n_buckets=2, target_file_rows=256)
    tbl.start_rebucket(16)
    while tbl.rebucket_step(spark, max_buckets=1) is not None:
        pass
    assert tbl.migration() is None
    man = tbl.manifest()
    assert man["n_buckets"] == 16
    for f in man["files"]:
        if f["kb"] is not None:
            # (target/2, target] by construction; 1.5× slack for hash
            # placement variance only — never the old old_spec× blowup
            assert f["rows"] <= 256 * 1.5, (f["path"], f["rows"])
    assert tbl.read(spark).count() == n


def test_keyed_commit_mid_migration_prunes_both_specs(spark, tmp_path):
    """While half the table is on each spec, commit_keyed must (a)
    produce the right data, (b) rewrite only files that can hold the
    touched keys UNDER THE FILE'S OWN SPEC, and (c) migrate its
    touched files to the new spec organically."""
    rows = [(i, f"v{i}") for i in range(600)]
    model = dict(rows)
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, rows), bucket_keys=["k"], n_buckets=2,
             change_feed=True)
    tbl.start_rebucket(8)
    tbl.rebucket_step(spark, max_buckets=1)  # bucket 0 of spec 2 moved
    mig = tbl.migration()
    assert mig and mig["pending_buckets"][2] == [1]
    man_mid = tbl.manifest()
    specs = {f.get("nb", man_mid["n_buckets"])
             for f in man_mid["files"] if f["kb"] is not None}
    assert specs == {2, 8}  # genuinely mixed-spec
    # keyed update touching a handful of keys across both specs
    upd_keys = [3, 4, 10, 501]
    upd = df_(spark, [(k, "UPD") for k in upd_keys])
    n_before = {f["path"] for f in man_mid["files"]}
    v = tbl.commit_keyed(upd, upd.select("k"))
    for k in upd_keys:
        model[k] = "UPD"
    got = {r.k: r.v for r in tbl.read(spark).collect()}
    assert got == model
    man2 = tbl.manifest(v)
    rewritten = n_before - {f["path"] for f in man2["files"]}
    assert len(rewritten) <= len(upd_keys)  # file-bounded across specs
    assert man2["keyed"]["pruning"] == "file"
    # mid-migration keyed DELETE
    dels = df_(spark, [(5, None), (502, None)]).select("k")
    tbl.commit_keyed(df_(spark, []).limit(0), dels)
    model.pop(5), model.pop(502)
    got = {r.k: r.v for r in tbl.read(spark).collect()}
    assert got == model
    # read_buckets mid-migration: superset of the key's rows, pruned
    picked = tbl.read_buckets(spark, df_(spark, [(7, "x")]).select("k"))
    ks = {r.k for r in picked.collect()}
    assert 7 in ks and len(ks) < len(model)
    # finish the migration; replay law holds ACROSS the whole thing
    while tbl.rebucket_step(spark, max_buckets=2) is not None:
        pass
    assert tbl.migration() is None
    got = {r.k: r.v for r in tbl.read(spark).collect()}
    assert got == model
    from kaj_query_engine_spark.sources.versioned import apply_change_feed

    replayed = apply_change_feed(
        tbl.read(spark, 0), tbl.read_changes(spark, 0), ["k"]
    )
    cur = tbl.read(spark)
    assert replayed.exceptAll(cur).count() == 0
    assert cur.exceptAll(replayed).count() == 0


def test_concurrent_writer_guard_raises_loudly(spark, tmp_path):
    """A second writer publishing mid-commit must raise
    ConcurrentWriterError when the loser tries to publish (since round
    12: at its exclusive manifest-creation commit point) — never a
    silent last-write-wins that drops the rival's version."""
    from kaj_query_engine_spark.sources.versioned import (
        ConcurrentWriterError,
    )

    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a")]))

    class RacingTable(VersionedTable):
        """Simulates the interleaving: a rival commit lands after this
        writer read the current version but before its swap."""

        def _write_data(self, df, version, **kw):
            files = super()._write_data(df, version, **kw)
            if not getattr(self, "_raced", False):
                self._raced = True
                VersionedTable(self.path).commit_append(
                    df.sparkSession.createDataFrame([(99, "rival")], SCHEMA)
                )
            return files

    racer = RacingTable(tmp_path / "t")
    with pytest.raises(ConcurrentWriterError, match="second writer"):
        racer.commit_append(df_(spark, [(2, "b")]))
    # the table stays consistent at the rival's version
    assert tbl.current_version() == 1
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 99]


def test_loser_never_clobbers_published_rival_data(spark, tmp_path):
    """Round-11 advice (medium), the MALIGNANT ordering the old layout
    lost: a rival PUBLISHES version N before the loser writes any data
    for its own attempt at N. The loser must raise with the winner's
    committed files untouched — under the old shared ``data/c{N}``
    directory the loser's write started with an rmtree of exactly the
    winner's live data, leaving the pointer at N with its files gone.
    Token-unique attempt directories make the orderings equivalent:
    no attempt can name, let alone delete, another attempt's files."""
    from kaj_query_engine_spark.sources.versioned import (
        ConcurrentWriterError,
    )

    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a")]))

    class StaleTable(VersionedTable):
        """First pointer read returns the pre-race version; the rival
        then publishes BEFORE this writer has written a byte."""

        def current_version(self):
            v = super().current_version()
            if not getattr(self, "_raced", False):
                self._raced = True
                VersionedTable(self.path).commit_append(
                    df_(spark, [(99, "rival")])
                )
            return v

    loser = StaleTable(tmp_path / "t")
    with pytest.raises(ConcurrentWriterError, match="second writer"):
        loser.commit_append(df_(spark, [(2, "b")]))
    # the winner's version 1 is live AND every file it references
    # still exists — reads do not fail after the loser's attempt
    assert tbl.current_version() == 1
    for f in tbl.manifest(1)["files"]:
        assert (tbl.path / f["path"]).exists(), f["path"]
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 99]
    # same guarantee on the keyed-commit path (strays/_changes side
    # writes share the loser's attempt dir, never the winner's)
    tbl2 = VersionedTable(tmp_path / "t2")
    tbl2.init(df_(spark, [(i, f"v{i}") for i in range(20)]),
              bucket_keys=["k"], n_buckets=4)
    loser2 = StaleTable(tmp_path / "t2")
    upd = df_(spark, [(7, "X")])
    with pytest.raises(ConcurrentWriterError, match="second writer"):
        loser2.commit_keyed(upd, upd.select("k"))
    assert tbl2.current_version() == 1
    for f in tbl2.manifest(1)["files"]:
        assert (tbl2.path / f["path"]).exists(), f["path"]
    ks = sorted(r.k for r in tbl2.read(spark).collect())
    assert ks == sorted(list(range(20)) + [99])


def test_commit_point_is_exclusive_manifest_creation(spark, tmp_path):
    """Round 12: version N belongs to whichever writer CREATES
    ``v{N}.json`` first (the Delta transaction-log rule) — the
    create-exclusive hard link closes the one interleaving the old
    pointer-swap CAS could not protect (a loser overwriting the
    winner's manifest between the winner's manifest write and its
    swap). Two pins: (a) a crash between the manifest landing and the
    ``_CURRENT`` hint refresh is a COMPLETED commit — current_version
    probes forward past the stale hint; (b) an attempt at an
    already-created version raises with the winner's manifest
    byte-identical and no tmp litter."""
    from kaj_query_engine_spark.sources.versioned import (
        ConcurrentWriterError,
    )

    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a")]))

    class NoHint(VersionedTable):
        def _swap_pointer(self, version):  # crash before hint refresh
            raise OSError("simulated crash after manifest creation")

    crasher = NoHint(tmp_path / "t")
    with pytest.raises(OSError, match="simulated"):
        crasher.commit_append(df_(spark, [(2, "b")]))
    # the commit COMPLETED at manifest creation, hint or no hint
    assert tbl.current_version() == 1
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2]
    # and the next commit proceeds normally from the probed version
    tbl.commit_append(df_(spark, [(3, "c")]))
    assert tbl.current_version() == 2

    # (b) second writer at an already-taken version: the early CAS is
    # bypassed by passing the post-commit version as the expected
    # base, so this drives the exclusive-link failure path itself
    winner_manifest = (tbl.path / "v2.json").read_bytes()
    loser = VersionedTable(tmp_path / "t")
    with pytest.raises(ConcurrentWriterError, match="nothing overwritten"):
        loser._write_manifest(
            2, [], tbl._schema_of(tbl.manifest(2)), None, expect=2
        )
    assert (tbl.path / "v2.json").read_bytes() == winner_manifest
    assert not list(tbl.path.glob("v2.json.tmp*"))  # tmp cleaned up


def test_concurrent_writers_thread_race_single_winner(spark, tmp_path):
    """PROPERTY pin for the round-12 commit protocol under REAL
    concurrency, not simulated interleaves: four threads race
    commit_append on one table. Invariants: the table's final rows
    are EXACTLY the seed plus every commit that returned (nothing a
    winner published is lost, nothing a loser wrote appears), every
    non-returning attempt raised ConcurrentWriterError, versions are
    consecutive with one owner each, and every surviving version
    reads cleanly."""
    import threading

    from kaj_query_engine_spark.sources.versioned import (
        ConcurrentWriterError,
    )

    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(0, "seed")]))
    okays: list[int] = []
    errs: list[int] = []
    lock = threading.Lock()

    def worker(i: int) -> None:
        t = VersionedTable(tmp_path / "t")
        for j in range(4):
            k = 1000 * (i + 1) + j
            try:
                t.commit_append(df_(spark, [(k, f"w{i}b{j}")]))
                with lock:
                    okays.append(k)
            except ConcurrentWriterError:
                with lock:
                    errs.append(k)

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(okays) + len(errs) == 16
    assert okays  # at least someone committed
    got = sorted(r.k for r in tbl.read(spark).collect())
    assert got == sorted([0] + okays)
    # versions are consecutive, one committed owner each
    assert tbl.versions() == list(range(len(okays) + 1))
    assert tbl.current_version() == len(okays)
    for v in tbl.versions():  # every snapshot readable, sizes monotone
        assert tbl.read(spark, v).count() == v + 1
    # losers' orphan data is unreferenced and vacuumable
    tbl.vacuum(keep_last=1)
    assert sorted(r.k for r in tbl.read(spark).collect()) == got


def test_concurrent_mixed_ops_serialize_by_version(spark, tmp_path):
    """The round-12 protocol's strongest property: under concurrent
    MIXED maintenance traffic (appends, repeated keyed upserts of the
    same key, lazy-migration steps), committed history is a
    linearizable single-winner sequence — replaying only the WINNING
    ops in version order on a plain dict reproduces the table's final
    state exactly (each keyer re-updates one key, so a mis-serialized
    fold shows the wrong final value), versions are consecutive, and
    losers leave no trace."""
    import threading

    from kaj_query_engine_spark.sources.versioned import (
        ConcurrentWriterError,
    )

    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(50)]),
             bucket_keys=["k"], n_buckets=2)
    base_v = tbl.start_rebucket(8)  # leave a migration for the steps
    wins: list[tuple[int, dict]] = []  # (version, key->value delta)
    lock = threading.Lock()

    def appender(i: int) -> None:
        t = VersionedTable(tmp_path / "t")
        for j in range(3):
            k = 1000 * (i + 1) + j
            try:
                v = t.commit_append(df_(spark, [(k, f"a{k}")]))
                with lock:
                    wins.append((v, {k: f"a{k}"}))
            except ConcurrentWriterError:
                pass

    def keyer(i: int) -> None:
        t = VersionedTable(tmp_path / "t")
        k = 10 * i  # SAME key every round: final value is order-proof
        for j in range(3):
            upd = df_(spark, [(k, f"u{i}_{j}")])
            try:
                v = t.commit_keyed(upd, upd.select("k"))
                with lock:
                    wins.append((v, {k: f"u{i}_{j}"}))
            except ConcurrentWriterError:
                pass

    def migrator() -> None:
        t = VersionedTable(tmp_path / "t")
        for _ in range(3):
            try:
                v = t.rebucket_step(spark, max_buckets=1)
                if v is None:
                    return  # migration drained
                with lock:
                    wins.append((v, {}))  # logically changeless
            except ConcurrentWriterError:
                pass

    threads = [
        threading.Thread(target=appender, args=(0,)),
        threading.Thread(target=appender, args=(1,)),
        threading.Thread(target=keyer, args=(1,)),
        threading.Thread(target=keyer, args=(2,)),
        threading.Thread(target=migrator),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert wins  # someone committed
    versions = sorted(v for v, _d in wins)
    assert versions == list(
        range(base_v + 1, base_v + 1 + len(wins))
    )  # consecutive, single owner each
    state = {i: f"v{i}" for i in range(50)}
    for _v, delta in sorted(wins, key=lambda x: x[0]):
        state.update(delta)
    got = {r.k: r.v for r in tbl.read(spark).collect()}
    assert got == state
    # every surviving snapshot still reads cleanly post-race
    for v in tbl.versions():
        tbl.read(spark, v).count()


def test_history_surfaces_keyed_pruning_mode(spark, tmp_path):
    """history() records per keyed commit whether file pruning ran at
    file or bucket granularity and the rewritten/carried split — the
    round-10 'silent degradation past the prune cap' advice."""
    from kaj_query_engine_spark.sources.versioned import TouchedInfo

    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(100)]),
             bucket_keys=["k"], n_buckets=4)
    upd = df_(spark, [(7, "X")])
    tbl.commit_keyed(upd, upd.select("k"))  # small: file pruning
    # force the bulk regime: an info with no hash list (past the cap)
    upd2 = df_(spark, [(8, "Y")])
    info = TouchedInfo(None, 1, 4, {4: {tbl.touched_info(upd2.select('k')).buckets[4].pop()}})
    tbl.commit_keyed(upd2, upd2.select("k"), info=info)
    hist = {h["version"]: h for h in tbl.history()}
    assert hist[0]["keyed"] is None
    assert hist[1]["keyed"]["pruning"] == "file"
    assert hist[1]["keyed"]["files_rewritten"] + hist[1]["keyed"][
        "files_carried"
    ] >= hist[0]["n_files"]
    assert hist[2]["keyed"]["pruning"] == "bucket"
    # unbucketed tables record pruning='none'
    t2 = VersionedTable(tmp_path / "u")
    t2.init(df_(spark, [(1, "a"), (2, "b")]))
    t2.commit_keyed(df_(spark, [(1, "z")]),
                    spark.createDataFrame([(1,)], "k long"))
    assert t2.history()[-1]["keyed"]["pruning"] == "none"


def test_bulk_regime_keyed_commit_mid_migration(spark, tmp_path):
    """The over-cap regime (no collected hash list) while the table is
    MIXED-SPEC: touched-bucket sets must be computed per spec by the
    extra bounded groupBy (TouchedInfo.buckets), file pruning degrades to
    bucket granularity (recorded in history), and the data stays
    correct. Forced via a TouchedInfo with hashes=None rather than
    16k+ real keys."""
    from kaj_query_engine_spark.sources.versioned import TouchedInfo

    rows = [(i, f"v{i}") for i in range(300)]
    model = dict(rows)
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, rows), bucket_keys=["k"], n_buckets=2)
    tbl.start_rebucket(8)
    tbl.rebucket_step(spark)  # now mixed: spec 2 and spec 8 files
    upd = df_(spark, [(10, "U10"), (11, "U11"), (250, "U250")])
    tk = upd.select("k")
    # touched_info computes per-spec sets; blank the hash list to
    # force the bulk path while keeping the per-spec bucket sets
    info = tbl.touched_info(tk)
    assert set(info.buckets) == {2, 8}
    # the real over-cap path (hashes=None) while STILL mixed-spec:
    # the per-spec bucket sets come from the extra bounded groupBy
    import kaj_query_engine_spark.sources.versioned as V
    old_cap = V._FILE_PRUNE_KEYS
    try:
        V._FILE_PRUNE_KEYS = 1  # force over-cap with a 3-key frame
        info2 = tbl.touched_info(tk)
        assert info2.hashes is None
        assert set(info2.buckets) == {2, 8}
        assert info2.buckets[2] and info2.buckets[8]
    finally:
        V._FILE_PRUNE_KEYS = old_cap
    bulk = TouchedInfo(None, info.n_rows, info.n_buckets, info.buckets)
    v = tbl.commit_keyed(upd, tk, info=bulk)
    for k, val in [(10, "U10"), (11, "U11"), (250, "U250")]:
        model[k] = val
    got = {r.k: r.v for r in tbl.read(spark).collect()}
    assert got == model
    assert tbl.manifest(v)["keyed"]["pruning"] == "bucket"
    # read_buckets in the same regime: complete for the probed key
    rb = {r.k for r in tbl.read_buckets(spark, df_(spark, [(10, "x")]).select("k"),
                                        info=bulk).collect()}
    assert 10 in rb


@pytest.mark.parametrize("regime", ["file", "bucket"])
def test_read_buckets_reads_exactly_what_commit_keyed_rewrites(
    spark, tmp_path, monkeypatch, regime
):
    """read_buckets and commit_keyed share ONE file selection: on a
    mixed-spec table with strays, the files read_buckets scans for a
    touched set are exactly the files commit_keyed drops from the
    manifest for the same set — with file pruning, and in the over-cap
    regime (no hash list: bucket pruning only)."""
    from urllib.parse import urlparse

    import kaj_query_engine_spark.sources.versioned as V

    if regime == "bucket":
        monkeypatch.setattr(V, "_FILE_PRUNE_KEYS", 0)
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(200)]),
             bucket_keys=["k"], n_buckets=2)
    tbl.commit_append(df_(spark, [(1000 + i, "s") for i in range(4)]))
    tbl.start_rebucket(8)
    tbl.rebucket_step(spark)
    assert tbl.migration() is not None  # spec-2 and spec-8 files
    root = tbl.path.resolve()
    for keys in ([7], [10, 150, 1002]):
        tk = spark.createDataFrame([(k,) for k in keys], "k long")
        before = {f["path"] for f in tbl.manifest()["files"]}
        read = {
            str(Path(urlparse(u).path).relative_to(root))
            for u in tbl.read_buckets(spark, tk).inputFiles()
        }
        v = tbl.commit_keyed(df_(spark, [(k, "X") for k in keys]), tk)
        man = tbl.manifest(v)
        assert man["keyed"]["pruning"] == regime
        dropped = before - {f["path"] for f in man["files"]}
        assert read and read == dropped, keys


# ---------------------------------------------------------------------
# Round 11b: two-level (sharded, content-addressed) manifests — the
# "version metadata is one driver-parsed JSON" boundary, closed
# ---------------------------------------------------------------------


def _shard_loads(monkeypatch, counter):
    """Count _load_shard invocations table-wide."""
    orig = VersionedTable._load_shard

    def spy(self, entry):
        counter.append(entry["path"])
        return orig(self, entry)

    monkeypatch.setattr(VersionedTable, "_load_shard", spy)


def test_sharded_manifest_reuses_untouched_shards(spark, tmp_path, monkeypatch):
    """A keyed commit touching one bucket must (a) reference every
    other bucket's shard BY PATH, byte-identical (content-addressed
    reuse — zero metadata written for them), and (b) parse only the
    touched bucket's shard plus strays (selective load)."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(400)]),
             bucket_keys=["k"], n_buckets=8)
    tbl.commit_append(df_(spark, [(1000, "stray")]))
    man1 = tbl._manifest_lite()
    assert "files" not in man1 and man1["shards"]
    shards1 = {s["path"] for s in man1["shards"]}
    upd = df_(spark, [(7, "UPD")])
    loads: list[str] = []
    _shard_loads(monkeypatch, loads)
    tbl.commit_keyed(upd, upd.select("k"))
    man2 = tbl._manifest_lite()
    shards2 = {s["path"] for s in man2["shards"]}
    # 8 bucket shards + 1 stray shard; exactly ONE bucket shard and
    # the stray shard may differ (the touched ones)
    assert len(shards1 & shards2) >= len(shards1) - 2
    # selective load: at most the touched bucket's shard + strays
    # parsed (touched_info may consult none — it reads entries only)
    assert len(set(loads)) <= 2, loads
    # the merged view stays complete and correct
    got = {r.k: r.v for r in tbl.read(spark).collect()}
    assert got[7] == "UPD" and len(got) == 401


def test_commit_append_is_metadata_o1_on_sharded_tables(
    spark, tmp_path, monkeypatch
):
    """An append must parse ZERO shards: every previous shard entry is
    carried by reference and the delta forms its own stray shard."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(100)]),
             bucket_keys=["k"], n_buckets=4)
    loads: list[str] = []
    _shard_loads(monkeypatch, loads)
    tbl.commit_append(df_(spark, [(500, "a")]))
    tbl.commit_append(df_(spark, [(501, "b")]))
    assert loads == []
    man = tbl._manifest_lite()
    strays = [s for s in man["shards"] if s.get("kb") is None]
    assert len(strays) == 2  # one entry per append, folded by compaction
    assert {r.k for r in tbl.read(spark).collect()} >= {500, 501}
    # compaction folds everything back to one shard per bucket
    tbl.compact(spark)
    man2 = tbl._manifest_lite()
    assert all(s.get("kb") is not None for s in man2["shards"])


def test_start_rebucket_touches_no_shard_files(spark, tmp_path, monkeypatch):
    """start_rebucket on a sharded manifest is metadata-only at the
    MANIFEST level: zero shards parsed, zero shards written — the spec
    tag moves on the shard entries."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(200)]),
             bucket_keys=["k"], n_buckets=2)
    sdir = tbl.path / "shards"
    before = {p.name: p.stat().st_mtime_ns for p in sdir.glob("*.json")}
    loads: list[str] = []
    _shard_loads(monkeypatch, loads)
    v = tbl.start_rebucket(8)
    assert loads == []
    after = {p.name: p.stat().st_mtime_ns for p in sdir.glob("*.json")}
    assert after == before  # no shard written or rewritten
    man = tbl._manifest_lite(v)
    assert all(s["nb"] == 2 for s in man["shards"] if s.get("kb") is not None)
    # migration state derives from entries alone — still zero loads
    assert tbl.migration() == {
        "to": 8, "pending_files": man["shards"][0]["n_files"]
        + man["shards"][1]["n_files"],
        "pending_buckets": {2: [0, 1]},
    }
    assert loads == []


def test_vacuum_gcs_unreferenced_shards(spark, tmp_path):
    """Shard JSONs are reference-counted like data files: shared
    content survives while any manifest names it; dropped versions'
    exclusive shards are deleted."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(i, f"v{i}") for i in range(100)]),
             bucket_keys=["k"], n_buckets=4)
    upd = df_(spark, [(3, "X")])
    tbl.commit_keyed(upd, upd.select("k"))
    upd2 = df_(spark, [(3, "Y")])
    tbl.commit_keyed(upd2, upd2.select("k"))
    sdir = tbl.path / "shards"
    n_before = len(list(sdir.glob("*.json")))
    tbl.vacuum(keep_last=1)
    live = {s["path"] for s in tbl._manifest_lite()["shards"]}
    on_disk = {str(p.relative_to(tbl.path)) for p in sdir.glob("*.json")}
    assert on_disk == live  # exactly the referenced set survives
    assert len(on_disk) < n_before
    got = {r.k: r.v for r in tbl.read(spark).collect()}
    assert got[3] == "Y" and len(got) == 100


def test_khr_pruning_soundness_property():
    """Pure-python hypothesis pin of the file-pruning SOUNDNESS law:
    for random touched-hash sets and random file layouts (mixed
    specs, khr ranges, khs exact lists, strays, range-less files),
    _khr_hits must NEVER report False for a file that contains a
    touched hash of its own bucket — a pruning false-negative would
    silently carry rows past their delete. (Precision is measured by
    the probes; soundness is the correctness half.)"""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kaj_query_engine_spark.sources.versioned import _khr_hits

    hashes_st = st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=0, max_size=20,
    )

    @st.composite
    def layout(draw):
        files, file_nbs, contents = [], [], []
        for _ in range(draw(st.integers(0, 8))):
            spec = draw(st.sampled_from([None, 2, 4, 8]))
            kb = (
                None
                if spec is None
                else draw(st.integers(0, spec - 1))
            )
            # the file's ACTUAL hashes: only ones consistent with its
            # bucket under its spec (how real writes lay files out)
            raw = draw(st.lists(
                st.integers(min_value=-(2**62), max_value=2**62 - 1),
                min_size=0, max_size=6,
            ))
            content = [
                h for h in raw if kb is None or h % spec == kb
            ]
            f = {"path": f"f{len(files)}", "kb": kb}
            form = draw(st.sampled_from(["khs", "khr", "none"]))
            if form == "khs" and content:
                f["khs"] = sorted(set(content))
            elif form == "khr" and content:
                f["khr"] = [min(content), max(content)]
            files.append(f)
            file_nbs.append(spec)
            contents.append(set(content))
        return files, file_nbs, contents

    @given(hashes_st, layout())
    @settings(max_examples=300, deadline=None)
    def check(hashes, lay):
        files, file_nbs, contents = lay
        hits = _khr_hits(files, sorted(set(hashes)), file_nbs)
        touched = set(hashes)
        for f, fnb, hit, content in zip(files, file_nbs, hits, contents):
            if content & touched:
                assert hit, (
                    f"pruned a file containing touched hashes: {f} "
                    f"spec={fnb} overlap={content & touched}"
                )
        # over-cap regime: no pruning at all
        assert _khr_hits(files, None, file_nbs) == [True] * len(files)

    check()


# ---------------------------------------------------------------------
# round 13: vacuum tmp-manifest GC + the suggest_rebucket advisory
# ---------------------------------------------------------------------


def test_vacuum_reclaims_stale_tmp_manifests(spark, tmp_path):
    """A crash between _write_manifest's tmp write and its finally
    leaves v{N}.json.tmp.{token} in the table root forever; vacuum
    now reclaims every tmp whose version is decided (<= current) and
    leaves a possible in-flight current+1 tmp alone."""
    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a")]))
    tbl.commit(df_(spark, [(1, "a"), (2, "b")]))
    dead = tbl.path / "v1.json.tmp.deadbeef"
    dead.write_text("{}")
    live = tbl.path / "v2.json.tmp.0badcafe"  # current+1: maybe in flight
    live.write_text("{}")
    unrelated = tbl.path / "v1.json.tmp"  # not the attempt pattern
    unrelated.write_text("{}")
    tbl.vacuum(keep_last=2)
    assert not dead.exists(), "decided-version tmp must be reclaimed"
    assert live.exists(), "current+1 tmp may be in flight — kept"
    assert unrelated.exists(), "non-attempt-pattern files untouched"
    # versions untouched by the tmp GC
    assert tbl.versions() == [0, 1]
    # after the next commit, the old current+1 tmp becomes decided
    tbl.commit(df_(spark, [(3, "c")]))
    tbl.vacuum(keep_last=3)
    assert not live.exists()


def test_suggest_rebucket_advisory(spark, tmp_path):
    """The trigger half of the keyed-commit shard-metadata mitigation
    (probe e=0.83 at fixed n_buckets): fires when MAX files-per-
    bucket exceeds the threshold (round-14 advice: the per-bucket
    file list is the rewrite/metadata unit and skew hides from the
    mean; max >= mean so this subsumes the round-13 mean rule),
    suggests a power-of-two MULTIPLE of the current spec (old divides
    new — the gcd-aware rebucket_step shape) restoring BOTH max and
    mean, and stays quiet on healthy/unbucketed/mid-migration
    tables."""

    def census(t):
        man = t._manifest_lite(t.current_version())
        counts = [
            s["n_files"] for s in man["shards"]
            if s.get("kb") is not None
        ]
        return sum(counts), max(counts, default=0), t._n_buckets_at(man)

    # unbucketed: never fires
    flat = VersionedTable(tmp_path / "flat")
    flat.init(df_(spark, [(1, "a")]))
    assert flat.suggest_rebucket() is None

    small = VersionedTable(tmp_path / "small")
    small.init(
        df_(spark, [(i, "x") for i in range(8)]),
        bucket_keys=["k"], n_buckets=2,
    )
    assert small.suggest_rebucket() is None  # fresh: 1 file/bucket

    # the probe's growth shape: the TABLE grows under a FIXED spec,
    # every bucket's file list lengthens (more rows / target_file_rows
    # files per bucket), and with it the keyed-commit metadata unit —
    # modeled here by a large table with a small target file size
    tbl = VersionedTable(tmp_path / "t")
    rows = [(i, f"v{i}") for i in range(96)]
    tbl.init(
        df_(spark, rows), bucket_keys=["k"], n_buckets=2,
        target_file_rows=6,
    )
    total, max_b, _nb = census(tbl)
    assert max_b > 3  # enough files for a threshold-3 trigger
    sug = tbl.suggest_rebucket(max_files_per_bucket=3)
    assert sug is not None and sug % 2 == 0 and sug > 2
    # the suggestion restores BOTH bounds and is the SMALLEST such
    # power-of-two multiple (half fails max or mean)
    f, half = sug // 2, sug // 4
    assert total <= sug * 3 and max_b <= f * 3
    assert half == 0 or total > sug // 2 * 3 or max_b > half * 3
    # default threshold may or may not fire at this size; whichever,
    # it must be consistent with the (max-based) rule
    d = tbl.suggest_rebucket()
    assert (d is None) == (max_b <= 8)
    # mid-migration: quiet (a pending evolution already addresses it)
    tbl.start_rebucket(sug)
    assert tbl.suggest_rebucket(max_files_per_bucket=3) is None
    # complete the migration; the advisory now reads the NEW spec and
    # stays consistent with the rule (it may legitimately fire again —
    # migration preserves target_file_rows, so an aggressive threshold
    # can still be exceeded; a default-threshold table is healthy)
    while tbl.rebucket_step(spark, max_buckets=8) is not None:
        pass
    total2, max_b2, nb2 = census(tbl)
    assert nb2 == sug
    post = tbl.suggest_rebucket(max_files_per_bucket=3)
    if max_b2 <= 3:
        assert post is None
    else:
        assert (
            post % nb2 == 0
            and total2 <= post * 3
            and max_b2 <= post // nb2 * 3
        )
    assert tbl.suggest_rebucket() is None  # default threshold: healthy


def test_suggest_rebucket_fires_on_bucket_skew(spark, tmp_path):
    """Round-14 advice: the advisory's round-13 rule triggered on MEAN
    files-per-bucket, so a single skewed bucket — the actual
    keyed-commit rewrite/metadata unit the advisory exists to bound —
    could blow past the threshold while the mean stayed quiet. The
    rule is now max-based: construct that exact skew (keys chosen by
    the table's own pmod(xxhash64, 2) so one bucket holds nearly all
    files) and pin that the advisory fires at a threshold the OLD
    mean rule would have slept through, with the smallest
    bound-restoring power-of-two multiple."""
    cand = spark.range(500).select(F.col("id").alias("k"))
    kb = F.pmod(F.xxhash64(F.col("k")), F.lit(2))
    b0 = [r.k for r in cand.filter(kb == 0).head(12)]
    b1 = [r.k for r in cand.filter(kb == 1).head(2)]
    rows = [(int(k), f"v{k}") for k in b0 + b1]
    tbl = VersionedTable(tmp_path / "skew")
    tbl.init(
        df_(spark, rows), bucket_keys=["k"], n_buckets=2,
        target_file_rows=1,
    )
    man = tbl._manifest_lite(tbl.current_version())
    counts = sorted(
        s["n_files"] for s in man["shards"] if s.get("kb") is not None
    )
    total, max_b = sum(counts), counts[-1]
    assert len(counts) == 2 and max_b - counts[0] >= 2, counts
    # threshold one under the skewed bucket: the old mean rule is
    # QUIET (total <= nb * thr) but a bucket exceeds it
    thr = max_b - 1
    assert total <= 2 * thr
    sug = tbl.suggest_rebucket(max_files_per_bucket=thr)
    # fires, and factor 2 restores both bounds (max <= 2*thr always
    # holds here), so the smallest suggestion is exactly 2 * nb
    assert sug == 4
    # and a threshold at the max itself stays quiet
    assert tbl.suggest_rebucket(max_files_per_bucket=max_b) is None


def test_commit_tmp_reclaimed_by_vacuum_raises_concurrent(
    spark, tmp_path, monkeypatch
):
    """Round-14 advice: vacuum's tmp-manifest GC may reclaim a rival
    writer's in-flight attempt tmp once the contested version is
    decided — the rival's os.link then hits FileNotFoundError (its
    src vanished) instead of FileExistsError. Both mean the same
    thing (the version was taken while this commit was in flight),
    so both must surface as the clean ConcurrentWriterError, never an
    uncaught OSError: the 'nothing torn in every interleaving'
    multi-writer story includes this interleaving."""
    from kaj_query_engine_spark.sources.versioned import (
        ConcurrentWriterError,
    )

    tbl = VersionedTable(tmp_path / "t")
    tbl.init(df_(spark, [(1, "a")]))

    real_link = os.link

    def link_after_vacuum_reclaim(src, dst, *a, **kw):
        # simulate: rival committed this version and vacuum ran,
        # reclaiming our decided-version tmp, all between our tmp
        # write and the link attempt
        os.unlink(src)
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(os, "link", link_after_vacuum_reclaim)
    with pytest.raises(ConcurrentWriterError, match="reclaimed by vacuum"):
        tbl.commit(df_(spark, [(2, "b")]))
    monkeypatch.undo()
    # the table is untouched and the next commit proceeds cleanly
    assert tbl.current_version() == 0
    tbl.commit(df_(spark, [(2, "b")]))
    assert tbl.current_version() == 1


def test_maintain_closes_advisory_loop(spark, tmp_path):
    """Round-14: the advisory→action loop in one call. A table whose
    fixed spec outgrew its per-bucket file lists (the keyed-commit
    metadata growth the e=0.83 probe curve measures) is handed to
    maintain(): it polls suggest_rebucket, starts the suggested
    evolution, steps it to completion in bounded chunks, and the
    advisory is QUIET afterwards — with the keyed-commit metadata
    unit (the touched bucket's file list) materially smaller. Also
    pins max_steps resumability: a budget of 1 leaves a pending
    migration that the next call picks up where it left off."""
    tbl = VersionedTable(tmp_path / "t")
    rows = [(i, f"v{i}") for i in range(96)]
    tbl.init(
        df_(spark, rows), bucket_keys=["k"], n_buckets=2,
        target_file_rows=6,
    )

    def census(t):
        man = t._manifest_lite(t.current_version())
        return [
            s["n_files"] for s in man["shards"]
            if s.get("kb") is not None
        ]

    pre = census(tbl)
    assert max(pre) > 3  # outgrown at threshold 3
    # budget of 1 step: starts the migration, leaves it pending
    r1 = tbl.maintain(spark, max_files_per_bucket=3, max_steps=1)
    assert r1["suggested"] is not None and r1["steps"] == 1
    assert r1["migration_pending"] > 0
    # second call resumes: no re-suggestion (mid-migration is quiet),
    # steps to completion, optional vacuum retires old versions
    r2 = tbl.maintain(
        spark, max_files_per_bucket=3, vacuum_keep_last=1
    )
    assert r2["suggested"] is None and r2["started"] is None
    assert r2["migration_pending"] == 0 and r2["steps"] >= 1
    assert r2["vacuumed"], "vacuum did not retire pre-migration versions"
    post = census(tbl)
    assert max(post) <= 3, post  # the bound the advisory promises
    assert tbl.suggest_rebucket(max_files_per_bucket=3) is None
    # the table reads back identically through the whole lifecycle
    got = sorted((r.k, r.v) for r in tbl.read(spark).collect())
    assert got == sorted(rows)
    # idempotent on a healthy table
    r3 = tbl.maintain(spark, max_files_per_bucket=3)
    assert r3 == {
        "suggested": None, "started": None, "steps": 0,
        "migration_pending": 0, "compacted": None, "vacuumed": [],
    }
    # optional compact step: runs ONLY once no migration is pending
    # (a full rewrite; checked here post-migration), restores file
    # sizes the chunked migration commits fragmented, and the table
    # still reads back identically
    r4 = tbl.maintain(
        spark, max_files_per_bucket=3, compact_target_files=1
    )
    assert r4["compacted"] is not None and r4["steps"] == 0
    got2 = sorted((r.k, r.v) for r in tbl.read(spark).collect())
    assert got2 == sorted(rows)
