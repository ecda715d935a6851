"""Scale-technique workload: physical layout (partition pruning,
bucketed co-located joins), skew salting, and the remaining aggregate
families (exact percentiles, array aggregation).

These demonstrate the techniques `PERF.md` leans on — each one is
oracle-checked for exactness (salting and layout must never change
results, only physical distribution).
"""

from __future__ import annotations

from pathlib import Path
from typing import NamedTuple

from pyspark.sql import functions as F

from kaj_query_engine_spark.operators.skew import salted_groupby_agg
from kaj_query_engine_spark.sources.layout import (
    read_partitioned,
    write_bucketed,
    write_partitioned,
)
from kaj_query_engine_spark.workload.core import DSUM_V_SQL, dsum, t
from kaj_query_engine_spark.workload.registry import register

_SCRATCH = Path(__file__).resolve().parent.parent.parent / ".scratch"


def _tag(sf_dir: str) -> str:
    return Path(sf_dir).name.replace(".", "_")


class _LayoutToken(NamedTuple):
    """Staleness token for a layout copy. ``source_missing`` is carried
    structurally (not inferred from the rendered text) so a params
    string that happens to contain 'missing' can never poison the
    cache-validity check."""

    text: str
    source_missing: bool


def _layout_token(src: str, params: str) -> _LayoutToken:
    """Staleness token for a layout copy: the SOURCE token (same rule
    as the fixture memo, ``workload.core.source_token``) plus a
    layout-params component, so changing the clustering scheme (not
    just the data) also invalidates the copy. Callers compute this
    BEFORE the layout write and stamp that same value after — if the
    driver regenerates the fixture mid-write, the stamped (old) token
    no longer matches the new source and the next call rebuilds."""
    from kaj_query_engine_spark.workload.core import source_token

    tok = source_token(src)
    return _LayoutToken(f"{params}|{tok!r}", tok == ("missing",))


def _layout_current(token: _LayoutToken, dst: str) -> bool:
    """True if the layout copy at ``dst`` carries ``token`` AND holds
    actual data files (a marker surviving a partial cleanup must not
    vouch for an empty directory)."""
    if token.source_missing:
        return False
    marker = Path(dst) / "_src_token"
    if not (marker.exists() and marker.read_text() == token.text):
        return False
    return any(True for _ in Path(dst).rglob("part-*"))


def _stamp_layout(token: _LayoutToken, dst: str) -> None:
    (Path(dst) / "_src_token").write_text(token.text)


def _mtime_landing(src: str, dst: Path, params: str, batches) -> str:
    """A landing dir of single-file parquet batches
    ``part-b000.parquet``, ``part-b001.parquet``, … that a file stream
    under ``maxFilesPerTrigger=1`` replays one micro-batch each, in
    mtime order. ``batches()`` returns the batch DataFrames; they are
    written once per source generation (``_layout_current``'s token
    rule). The token does not see mtimes, and a copy or a ``touch``
    resets them, so the ascending stamps are re-applied on EVERY call
    — otherwise the batches would replay in whatever order the reset
    left."""
    import os
    import shutil

    token = _layout_token(src, params)
    if not _layout_current(token, str(dst)):
        shutil.rmtree(dst, ignore_errors=True)
        dst.mkdir(parents=True, exist_ok=True)
        for i, b in enumerate(batches()):
            tmp = str(dst / f"_tmp{i}")
            b.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(Path(tmp).glob("part-*.parquet"))
            shutil.move(str(part), str(dst / f"part-b{i:03d}.parquet"))
            shutil.rmtree(tmp)
        _stamp_layout(token, str(dst))
    base = 1_700_000_000
    for i, p in enumerate(sorted(dst.glob("part-b*.parquet"))):
        os.utime(p, (base + 60 * i, base + 60 * i))
    return str(dst)


def _bucketed(spark, sf_dir, src_name, table, cols, bucket_col) -> None:
    """Ensure a bucketed catalog table over ``<sf_dir>/<src_name>`` —
    written ONCE per fixture generation (same staleness-token rule as
    the layout copies; the marker lives inside the warehouse table
    directory, where Spark ignores underscore-prefixed files). Bucket
    metadata exists only in the session catalog, so a fresh session
    rewrites once even if the files survived — the amortization is
    per-session + per-generation, which is what the bench measures."""
    from kaj_query_engine_spark.sources.layout import warehouse_table_dir

    src = f"{sf_dir}/{src_name}.parquet"
    # the token carries EVERY layout-defining parameter (projection,
    # bucket key/count, per-bucket sort) so changing any of them
    # invalidates the cached table instead of serving a stale layout
    token = _layout_token(
        src, f"bucket:{','.join(cols)}:{bucket_col}:n8:sorted:v1"
    )
    dst = str(warehouse_table_dir(spark, table))
    if spark.catalog.tableExists(table) and _layout_current(token, dst):
        return
    write_bucketed(t(spark, sf_dir, src_name).select(*cols), table, bucket_col)
    _stamp_layout(token, dst)


@register(
    "q35_partition_pruning",
    "SELECT event_type AS grp, count(*) AS n, "
    f"{DSUM_V_SQL} AS sum_v FROM events "
    "WHERE event_type IN ('click', 'error') GROUP BY event_type "
    "UNION ALL "
    "SELECT 'zorder_slab' AS grp, count(*) AS n, "
    f"{DSUM_V_SQL} AS sum_v FROM events "
    "WHERE user_id BETWEEN 20 AND 40 AND value BETWEEN 50 AND 150",
    "layout-driven pruning, both kinds: branch A reads a Hive-"
    "partitioned copy (partitionBy(event_type)) where the filter "
    "becomes PartitionFilters — non-matching directories never opened; "
    "branch B reads a Z-order-clustered copy (Morton key over "
    "(user_id, value)) where each file covers a compact rectangle of "
    "the 2-D key space, so parquet min/max footer stats skip files for "
    "a predicate on EITHER clustered column — single-column sorting "
    "only prunes its own column",
)
def q35(spark, sf_dir):
    from kaj_query_engine_spark.sources.layout import write_zordered

    src = f"{sf_dir}/events.parquet"
    path = str(_SCRATCH / _tag(sf_dir) / "events_by_type")
    ptoken = _layout_token(src, "hive:event_type:v1")
    if not _layout_current(ptoken, path):
        write_partitioned(t(spark, sf_dir, "events"), path, ["event_type"])
        _stamp_layout(ptoken, path)
    e = read_partitioned(spark, path)
    a = (
        e.filter(F.col("event_type").isin("click", "error"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_v"))
        .select(F.col("event_type").alias("grp"), "n", "sum_v")
    )
    zpath = str(_SCRATCH / _tag(sf_dir) / "events_zorder")
    ztoken = _layout_token(src, "zorder:user_id,value:v1")
    if not _layout_current(ztoken, zpath):
        write_zordered(
            t(spark, sf_dir, "events").select("user_id", "value"),
            zpath,
            ["user_id", "value"],
        )
        _stamp_layout(ztoken, zpath)
    z = spark.read.parquet(zpath)
    b = (
        z.filter(F.col("user_id").between(20, 40) & F.col("value").between(50, 150))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_v"))
        .select(F.lit("zorder_slab").alias("grp"), "n", "sum_v")
    )
    return a.unionAll(b)


@register(
    "q36_bucketed_join",
    "SELECT c_custkey, c_name, count(*) AS n_orders, "
    "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "GROUP BY c_custkey, c_name",
    "bucketed co-located join: both sides bucketBy(custkey) at write "
    "time → sort-merge join with ZERO exchanges (the shuffle was paid "
    "once at write, amortized over every later join)",
)
def q36(spark, sf_dir):
    tag = _tag(sf_dir)
    ct, ot = f"customer_b_{tag}", f"orders_b_{tag}"
    _bucketed(spark, sf_dir, "customer", ct, ["c_custkey", "c_name"], "c_custkey")
    _bucketed(
        spark, sf_dir, "orders", ot, ["o_custkey", "o_totalprice"], "o_custkey"
    )
    c, o = spark.table(ct), spark.table(ot)
    # merge hint: prove the bucketed SMJ path (broadcast would hide it)
    return (
        c.hint("merge")
        .join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


@register(
    "q37_salted_agg",
    "SELECT o_orderpriority, count(*) AS n, "
    "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total, "
    "max(o_totalprice) AS biggest, "
    # big_orders is emitted as a comma-joined STRING, not an array: the
    # driver's pandas-based canonicalizer cannot sort list-typed cells
    # (TypeError: unhashable type 'list')
    "COALESCE(array_to_string(list(o_orderkey ORDER BY o_orderkey) "
    "FILTER (WHERE o_totalprice > 450000), ','), '') AS big_orders "
    "FROM orders GROUP BY o_orderpriority",
    "salted two-stage aggregation: hot keys spread over 16 salt "
    "buckets, then per-salt partials combined — results exactly equal "
    "the unsalted plan (DECIMAL sum is order-independent; the sorted "
    "array aggregate flattens per-salt partial lists and sorts once, "
    "so element order is canonical regardless of salting)",
)
def q37(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    big = F.when(F.col("o_totalprice") > 450000, F.col("o_orderkey"))
    out = salted_groupby_agg(
        o,
        ["o_orderpriority"],
        [
            (F.count(F.lit(1)), lambda c: F.sum(c).cast("long"), "n"),
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")),
                lambda c: F.round(F.sum(c), 2).cast("double"),
                "total",
            ),
            (F.max("o_totalprice"), lambda c: F.max(c), "biggest"),
            (
                # collect_list skips the NULLs F.when leaves for
                # non-qualifying rows; combine = flatten + one sort,
                # joined to a string for the harness (see oracle note)
                F.collect_list(big),
                lambda c: F.array_join(
                    F.array_sort(F.flatten(F.collect_list(c))), ","
                ),
                "big_orders",
            ),
        ],
    )
    return out


@register(
    "q38_percentiles",
    "SELECT l_returnflag, "
    "round(quantile_cont(l_extendedprice, 0.5), 6) AS p50, "
    "round(quantile_cont(l_extendedprice, 0.9), 6) AS p90, "
    "round(quantile_cont(l_extendedprice, 0.99), 6) AS p99 "
    "FROM lineitem GROUP BY l_returnflag",
    "exact linear-interpolated percentiles per group (Spark percentile "
    "↔ DuckDB quantile_cont). Scale note: exact percentile buffers a "
    "value→count map per group in the aggregation buffer, so it is a "
    "small-group / verifier op — at 100 TB use the mergeable "
    "percentile_approx sketch (q45), whose memory is fixed by the "
    "accuracy parameter, not the data",
)
def q38(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    # ONE percentile aggregate with the percentage ARRAY instead of
    # three scalar aggregates (round-14, guide §1.2 per-task work):
    # each exact-percentile aggregate buffers its own copy of every
    # value, so the scalar form filled three identical 600k-value
    # buffers per group — the array form fills one and reads three
    # order statistics off it. Same Percentile expression, same
    # interpolation, bit-identical output (measured 2.8 s → 1.4 s
    # warm at sf0.1).
    pct = F.percentile("l_extendedprice", F.lit([0.5, 0.9, 0.99]))
    return l.groupBy("l_returnflag").agg(pct.alias("_ps")).select(
        "l_returnflag",
        *[
            F.round(F.col("_ps")[i], 6).alias(name)
            for i, name in enumerate(("p50", "p90", "p99"))
        ],
    )


@register(
    "q45_sketch_aggregates",
    # sketch ESTIMATES differ per implementation, so the hash-checkable
    # contract is the error bound, not the estimate: Spark computes both
    # the sketch and the exact value and emits within-bound booleans;
    # the oracle states the bounds hold. tests/test_scale_ops.py keeps
    # the tighter numeric assertions.
    "SELECT true AS nd_part_ok, true AS nd_supp_ok, "
    "true AS p50_ok, true AS p99_ok",
    "sketch aggregates for 100 TB profiling: HyperLogLog++ distinct "
    "counts and quantile sketches — sublinear memory, one pass, "
    "mergeable across partitions (the exact versions are q30/q38); "
    "emitted as within-error-bound booleans vs the exact aggregates "
    "so the result is implementation-independent and hash-checkable",
)
def q45(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    # one agg per DISTINCT column: N distinct aggregates in a single
    # agg() make Catalyst Expand the input N+1× (every row duplicated
    # per distinct group) — as three independent 1-row aggs that are
    # cross-joined, each is a plain one-pass partial agg and the whole
    # query runs ~4× faster (16.5s → 3.8s at sf0.1)
    sketches = l.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("nd_part"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("nd_supp"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("p99_approx"),
        F.percentile("l_extendedprice", 0.5).alias("p50_x"),
        F.percentile("l_extendedprice", 0.99).alias("p99_x"),
    )
    nd_part = l.select("l_partkey").distinct().agg(
        F.count(F.lit(1)).alias("nd_part_x")
    )
    nd_supp = l.select("l_suppkey").distinct().agg(
        F.count(F.lit(1)).alias("nd_supp_x")
    )
    row = sketches.crossJoin(nd_part).crossJoin(nd_supp)

    def _within(approx, exact, tol):
        return (
            F.abs(F.col(approx) - F.col(exact)) <= F.col(exact) * F.lit(tol)
        )

    # 3×rsd ≈ 3σ for HLL++; percentile_approx(…, 10000) is deterministic
    # and tight, 1% relative slack absorbs interpolation differences
    return row.select(
        _within("nd_part", "nd_part_x", 0.06).alias("nd_part_ok"),
        _within("nd_supp", "nd_supp_x", 0.06).alias("nd_supp_ok"),
        _within("p50_approx", "p50_x", 0.01).alias("p50_ok"),
        _within("p99_approx", "p99_x", 0.01).alias("p99_ok"),
    )




# --------------------------------------------------------------------
# q39: partition-pruned MERGE with touched-partition-only rewrite
# --------------------------------------------------------------------

# 30-day epoch buckets: TZ-free (integer division on epoch micros —
# month()/date_trunc would localize in the session TZ and break the
# hostile-TZ sweep) and functionally dependent on the key (the batch
# never changes o_orderdate), which is the partition-pruned-merge
# correctness requirement
_P_STEP = 30 * 86400 * 1_000_000
_P_LO, _P_HI = 329, 340  # ~calendar 1997: 12 of ~81 buckets


def _p_col():
    return F.expr(f"unix_micros(o_orderdate) div {_P_STEP}")


def materialized_part_merge_table(spark, sf_dir) -> str:
    """Write-once pday30-partitioned copy of the merge TARGET (the
    q55 derivation), behind the staleness token. q39 then MUTATES it
    through merge_into_partitioned — safe because that merge is
    idempotent for a fixed batch (re-applying updates/deletes/inserts
    converges), so every q39 run returns the same table state."""
    src = f"{sf_dir}/orders.parquet"
    path = str(_SCRATCH / _tag(sf_dir) / "part_merge_orders")
    token = _layout_token(src, f"pmerge:{_P_STEP}:v2")
    if not _layout_current(token, path):
        o = t(spark, sf_dir, "orders")
        target = o.filter(F.col("o_orderkey") % 10 < 8).withColumn(
            "pday30", _p_col()
        )
        target.write.mode("overwrite").partitionBy("pday30").parquet(path)
        _stamp_layout(token, path)
    return path


_Q39_ORACLE = (
    f"WITH base AS (SELECT *, epoch_us(o_orderdate) // {_P_STEP} AS p "
    "FROM orders), "
    "tgt AS (SELECT * FROM base WHERE o_orderkey % 10 < 8), "
    "src AS (SELECT o_orderkey, o_custkey, o_orderstatus, "
    "CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0 "
    "ELSE o_totalprice END AS o_totalprice, o_orderdate, o_orderpriority, p "
    f"FROM base WHERE o_orderkey % 3 = 0 AND p BETWEEN {_P_LO} AND {_P_HI}), "
    f"tt AS (SELECT * FROM tgt WHERE p BETWEEN {_P_LO} AND {_P_HI}), "
    "m AS (SELECT t.o_orderkey AS tk, s.o_orderkey AS sk, "
    "t.o_totalprice AS tp, t.o_orderstatus AS tst, "
    "s.o_totalprice AS sp, s.o_orderstatus AS sst, "
    "COALESCE(s.o_orderstatus = 'F', FALSE) AS del "
    "FROM tt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey) "
    "SELECT COALESCE(sk, tk) AS o_orderkey, "
    "CASE WHEN sk IS NOT NULL THEN sp ELSE tp END AS price, "
    "CASE WHEN sk IS NOT NULL THEN sst ELSE tst END AS status "
    "FROM m WHERE NOT (sk IS NOT NULL AND del) "
    "UNION ALL SELECT o_orderkey, o_totalprice, o_orderstatus "
    f"FROM tgt WHERE p NOT BETWEEN {_P_LO} AND {_P_HI}"
)


@register(
    "q39_partitioned_merge",
    _Q39_ORACLE,
    "partition-pruned MERGE: the q55 batch restricted to 12 of ~81 "
    "TZ-free 30-day buckets, merged into a pday30-partitioned copy of "
    "the target with touched-partition-only rewrite — the target read "
    "is partition-PRUNED to the batch's buckets, the merge join sees "
    "O(touched + batch) rows, and the dynamic-overwrite write "
    "replaces only the touched directories (untouched partition files "
    "stay byte-identical — mtime-pinned in pytest; probe: cost flat "
    "as the table grows by adding partitions). Partition col is "
    "functionally dependent on the key, the stated correctness "
    "requirement. Result = the maintained table's full state, "
    "idempotent across runs",
)
def q39(spark, sf_dir):
    from kaj_query_engine_spark.operators import maintenance as MN

    path = materialized_part_merge_table(spark, sf_dir)
    o = t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    batch = (
        o.withColumn("pday30", _p_col())
        .filter((key % 3 == 0) & F.col("pday30").between(_P_LO, _P_HI))
        .withColumn(
            "o_totalprice",
            F.when(
                key % 2 == 0, F.col("o_totalprice") + F.lit(1000.0)
            ).otherwise(F.col("o_totalprice")),
        )
    )
    final = MN.merge_into_partitioned(
        path,
        batch,
        ["o_orderkey"],
        "pday30",
        delete_condition=F.col("o_orderstatus") == "F",
    )
    return final.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
