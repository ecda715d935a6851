"""Tests for skew salting and physical layout — salting/layout must
never change results, only distribution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kaj_query_engine_spark.operators.skew import salted_groupby_agg
from kaj_query_engine_spark.sources.layout import write_bucketed, write_partitioned
from tests.conftest import SF_DIR


@pytest.fixture()
def skewed(spark):
    # key 1 holds 90% of rows — the shape AQE splits and salting spreads
    rows = [(1, i) for i in range(900)] + [(k, k) for k in range(2, 102)]
    return spark.createDataFrame(rows, "k long, v long")


def test_salted_groupby_equals_plain(spark, skewed):
    salted = salted_groupby_agg(
        skewed,
        ["k"],
        [
            (F.count(F.lit(1)), lambda c: F.sum(c).cast("long"), "n"),
            (F.sum("v"), lambda c: F.sum(c).cast("long"), "total"),
            (F.max("v"), lambda c: F.max(c), "mx"),
        ],
    )
    plain = skewed.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("total"),
        F.max("v").alias("mx"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_sketch_aggregates_near_exact(spark):
    from kaj_query_engine_spark.workload import all_queries

    # q45 emits within-bound booleans (hash-checkable vs the oracle);
    # assert they all hold...
    row = all_queries()["q45_sketch_aggregates"].spark(spark, SF_DIR).collect()[0]
    assert row.nd_part_ok and row.nd_supp_ok and row.p50_ok and row.p99_ok
    # ...and keep an independent numeric bound on the raw sketches so
    # the booleans can't silently go vacuous
    from kaj_query_engine_spark.catalog import _read_parquet

    l = _read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    approx = l.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("nd_part"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
    ).collect()[0]
    exact_nd = l.select("l_partkey").distinct().count()
    assert abs(approx.nd_part - exact_nd) / exact_nd < 0.05  # rsd=2%
    exact_p50 = l.agg(F.percentile("l_extendedprice", 0.5)).collect()[0][0]
    assert abs(approx.p50_approx - exact_p50) / exact_p50 < 0.05


def test_partitioned_write_round_trip(spark, tmp_path):
    from kaj_query_engine_spark.catalog import _read_parquet

    e = _read_parquet(spark, f"{SF_DIR}/events.parquet")
    path = str(tmp_path / "events_part")
    write_partitioned(e, path, ["event_type"])
    back = spark.read.parquet(path)
    assert back.count() == e.count()
    # partition column recovered from directory names
    got = {r.event_type for r in back.select("event_type").distinct().collect()}
    want = {r.event_type for r in e.select("event_type").distinct().collect()}
    assert got == want


def test_bucketed_join_has_no_exchange(spark):
    from kaj_query_engine_spark.catalog import _read_parquet

    c = _read_parquet(spark, f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    o = _read_parquet(spark, f"{SF_DIR}/orders.parquet").select(
        "o_custkey", "o_totalprice"
    )
    write_bucketed(c, "t_cust_b", "c_custkey", num_buckets=4)
    write_bucketed(o, "t_ord_b", "o_custkey", num_buckets=4)
    cb, ob = spark.table("t_cust_b"), spark.table("t_ord_b")
    joined = cb.hint("merge").join(ob, cb.c_custkey == ob.o_custkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == c.join(o, c.c_custkey == o.o_custkey).count()

def test_mtime_landing_replays_in_order_after_mtime_reset(spark, tmp_path):
    """A landing dir's file-stream order under maxFilesPerTrigger=1 is
    its files' mtimes, which a copy or a touch resets while the layout
    token still matches: _mtime_landing re-stamps them on every call,
    so the three batches still replay in order, without a rewrite."""
    import os

    from kaj_query_engine_spark.workload.scale import _mtime_landing

    src = tmp_path / "src.parquet"
    src.write_bytes(b"x")  # only its stat() feeds the token
    dst = tmp_path / "landing"
    built = []

    def batches():
        built.append(1)
        return [spark.range(10 * i, 10 * i + 3) for i in range(3)]

    _mtime_landing(str(src), dst, "t:v1", batches)
    # reverse the order, as a reset that lists files backwards would
    for i, p in enumerate(sorted(dst.glob("part-b*.parquet"), reverse=True)):
        os.utime(p, (1_800_000_000 + i, 1_800_000_000 + i))
    landing = _mtime_landing(str(src), dst, "t:v1", batches)
    assert built == [1]
    order = []
    q = (
        spark.readStream.schema("id LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(
            lambda df, _bid: order.append(sorted(r.id for r in df.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert order == [[0, 1, 2], [10, 11, 12], [20, 21, 22]]
