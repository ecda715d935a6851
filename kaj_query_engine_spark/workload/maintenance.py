"""Table-maintenance workload: MERGE/upsert + CDC change feed +
snapshot diff (q55) and SCD2 dimension building (q56).

The batch/target split is derived deterministically from ``orders``
itself so the oracle can reproduce it exactly:

- target  = orders with ``o_orderkey % 10 < 8`` (the standing table)
- source  = orders with ``o_orderkey % 3 = 0`` (the incoming batch),
  with ``o_totalprice`` bumped by 1000.0 on even keys (a SINGLE
  IEEE-754 double add — bit-identical across engines; only multi-term
  summation order diverges) so the batch contains real updates AND
  bit-identical no-op updates
- delete predicate = batch row has ``o_orderstatus = 'F'``

which exercises every MERGE arm: update, bit-identical no-op update
(suppressed from the feed), insert, matched delete, and the
unmatched-delete no-op.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kaj_query_engine_spark.operators import maintenance as M
from kaj_query_engine_spark.workload.core import t
from kaj_query_engine_spark.workload.registry import register

# DuckDB mirror of the full-row no-op test (Spark side: one struct
# eqNullSafe over the non-key columns)
_SAME = (
    "s.o_custkey IS NOT DISTINCT FROM t.o_custkey AND "
    "s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus AND "
    "s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice AND "
    "s.o_orderdate IS NOT DISTINCT FROM t.o_orderdate AND "
    "s.o_orderpriority IS NOT DISTINCT FROM t.o_orderpriority"
)

# shared CTE prelude: the target/batch derivation + the joined merge
# frame — q55's three branches and q85's streaming twin all read it
_MERGE_CTES = (
    "WITH tgt AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8), "
    "src AS (SELECT o_orderkey, o_custkey, o_orderstatus, "
    "CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0 "
    "ELSE o_totalprice END AS o_totalprice, o_orderdate, o_orderpriority "
    "FROM orders WHERE o_orderkey % 3 = 0), "
    "m AS (SELECT t.o_orderkey AS tk, s.o_orderkey AS sk, "
    "t.o_totalprice AS tp, t.o_orderstatus AS tst, "
    "s.o_totalprice AS sp, s.o_orderstatus AS sst, "
    "COALESCE(s.o_orderstatus = 'F', FALSE) AS del, "
    f"({_SAME}) AS same "
    "FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey) "
)

# the post-merge snapshot arm, without branch tags (q85 returns it bare)
_SNAP_SELECT = (
    "SELECT COALESCE(sk, tk) AS o_orderkey, "
    "CASE WHEN sk IS NOT NULL THEN sp ELSE tp END AS price, "
    "CASE WHEN sk IS NOT NULL THEN sst ELSE tst END AS status "
    "FROM m WHERE NOT (sk IS NOT NULL AND del)"
)

_SNAP_ORACLE = _MERGE_CTES + _SNAP_SELECT

_MERGE_ORACLE = (
    _MERGE_CTES
    + "SELECT 'snap' AS path, 'S' AS op, COALESCE(sk, tk) AS o_orderkey, "
    "CASE WHEN sk IS NOT NULL THEN sp ELSE tp END AS price, "
    "CASE WHEN sk IS NOT NULL THEN sst ELSE tst END AS status "
    "FROM m WHERE NOT (sk IS NOT NULL AND del) "
    "UNION ALL SELECT 'cdc', CASE WHEN del THEN 'D' "
    "WHEN tk IS NULL THEN 'I' ELSE 'U' END, sk, sp, sst "
    "FROM m WHERE sk IS NOT NULL AND NOT (del AND tk IS NULL) "
    "AND NOT (NOT del AND tk IS NOT NULL AND same) "
    "UNION ALL SELECT 'diff', 'D', tk, tp, tst "
    "FROM m WHERE sk IS NOT NULL AND del AND tk IS NOT NULL "
    "UNION ALL SELECT 'diff', 'I', sk, sp, sst "
    "FROM m WHERE tk IS NULL AND sk IS NOT NULL AND NOT del "
    "UNION ALL SELECT 'diff', 'U', sk, sp, sst "
    "FROM m WHERE tk IS NOT NULL AND sk IS NOT NULL AND NOT del AND NOT same"
)


def merge_fixture_frames(o):
    """The Spark twin of the oracle's tgt/src/delete derivation —
    shared by q55, the streaming q85, and the feed-law test."""
    key = F.col("o_orderkey")
    target = o.filter(key % 10 < 8)
    source = o.filter(key % 3 == 0).withColumn(
        "o_totalprice",
        F.when(key % 2 == 0, F.col("o_totalprice") + F.lit(1000.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    return target, source, F.col("o_orderstatus") == "F"


@register(
    "q55_merge_upsert",
    _MERGE_ORACLE,
    "MERGE/upsert table maintenance, three tagged branches: 'snap' is "
    "the full post-merge snapshot (matched rows replaced, matched "
    "deletes dropped, batch-only rows inserted, delete-of-absent-key "
    "a no-op), 'cdc' is the effective change feed (op I/U/D, "
    "bit-identical no-op updates suppressed via a NULL-safe struct "
    "compare), 'diff' is snapshot_diff(target, merged) — the generic "
    "two-snapshot audit (D carries the pre-image, I/U the post-image). "
    "Each branch is ONE full-outer shuffle join on the key; on a real "
    "table the target is bucketed on the key (exchange-free side) and "
    "written with dynamic partition overwrite — O(batch), not "
    "O(target)",
)
def q55(spark, sf_dir):
    target, source, delete = merge_fixture_frames(t(spark, sf_dir, "orders"))
    keys = ["o_orderkey"]
    snap = M.merge_upsert(target, source, keys, delete_condition=delete)
    cdc = M.merge_change_feed(target, source, keys, delete_condition=delete)
    diff = M.snapshot_diff(target, snap, keys)

    def shape(df, path, op=None):
        return df.select(
            F.lit(path).alias("path"),
            (F.lit(op) if op else F.col("op")).alias("op"),
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.col("o_orderstatus").alias("status"),
        )

    return (
        shape(snap, "snap", "S")
        .unionAll(shape(cdc, "cdc"))
        .unionAll(shape(diff, "diff"))
    )


# q66: MERGE with schema evolution. The batch drops o_orderpriority
# and gains o_channel ('web' for o_orderkey % 6 = 0, else NULL —
# NULL-channel unchanged-price rows make the effective-no-op
# suppression observable). Effective row: source values for batch
# columns, target-kept o_orderpriority, NULL channel for untouched
# target rows.
_EVOLVE_ORACLE = (
    "WITH tgt AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8), "
    "src AS (SELECT o_orderkey, o_custkey, o_orderstatus, "
    "CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0 "
    "ELSE o_totalprice END AS o_totalprice, o_orderdate, "
    "CASE WHEN o_orderkey % 6 = 0 THEN 'web' END AS o_channel "
    "FROM orders WHERE o_orderkey % 3 = 0), "
    "m AS (SELECT t.o_orderkey AS tk, s.o_orderkey AS sk, "
    "t.o_custkey AS tck, s.o_custkey AS sck, "
    "t.o_orderstatus AS tst, s.o_orderstatus AS sst, "
    "t.o_totalprice AS tp, s.o_totalprice AS sp, "
    "t.o_orderpriority AS tpr, s.o_channel AS sch, "
    "COALESCE(s.o_orderstatus = 'F', FALSE) AS del, "
    "(s.o_custkey IS NOT DISTINCT FROM t.o_custkey AND "
    "s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus AND "
    "s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice AND "
    "s.o_orderdate IS NOT DISTINCT FROM t.o_orderdate AND "
    "s.o_channel IS NULL) AS same "  # effective vs target's NULL channel
    "FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey) "
    "SELECT 'snap' AS path, 'S' AS op, COALESCE(sk, tk) AS o_orderkey, "
    "CASE WHEN sk IS NOT NULL THEN sck ELSE tck END AS o_custkey, "
    "CASE WHEN sk IS NOT NULL THEN sp ELSE tp END AS price, "
    "CASE WHEN sk IS NOT NULL THEN sst ELSE tst END AS status, "
    "tpr AS priority, CASE WHEN sk IS NOT NULL THEN sch END AS channel "
    "FROM m WHERE NOT (sk IS NOT NULL AND del) "
    "UNION ALL SELECT 'cdc', CASE WHEN del THEN 'D' "
    "WHEN tk IS NULL THEN 'I' ELSE 'U' END, sk, sck, sp, sst, tpr, sch "
    "FROM m WHERE sk IS NOT NULL AND NOT (del AND tk IS NULL) "
    "AND NOT (NOT del AND tk IS NOT NULL AND same)"
)


@register(
    "q66_merge_evolve",
    _EVOLVE_ORACLE,
    "MERGE with schema evolution (Delta/Iceberg mergeSchema + "
    "updateAll semantics): the batch DROPS o_orderpriority and GAINS "
    "o_channel. 'snap' is the evolved snapshot — source-new column "
    "appended (NULL for rows the batch didn't touch), batch-dropped "
    "column target-kept on matched rows; 'cdc' is the change feed "
    "computed on the EFFECTIVE row, so a drifted-schema batch row "
    "changing nothing effective (NULL channel, same price) is still "
    "suppressed. Same single full-outer shuffle join as q55",
)
def q66(spark, sf_dir):
    target, source, delete = merge_fixture_frames(t(spark, sf_dir, "orders"))
    key = F.col("o_orderkey")
    evolved = source.drop("o_orderpriority").withColumn(
        "o_channel",
        F.when(key % 6 == 0, F.lit("web")).otherwise(
            F.lit(None).cast("string")
        ),
    )
    keys = ["o_orderkey"]
    snap = M.merge_upsert(
        target, evolved, keys, delete_condition=delete, schema_evolution=True
    )
    cdc = M.merge_change_feed(
        target, evolved, keys, delete_condition=delete, schema_evolution=True
    )

    def shape(df, path, op=None):
        return df.select(
            F.lit(path).alias("path"),
            (F.lit(op) if op else F.col("op")).alias("op"),
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").alias("price"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_channel").alias("channel"),
        )

    return shape(snap, "snap", "S").unionAll(shape(cdc, "cdc"))


_SCD2_ORACLE = (
    "WITH w AS (SELECT user_id, event_type, ts, event_id, "
    "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn "
    "FROM events), "
    "s AS (SELECT user_id, event_type AS state, ts, event_id FROM w "
    "WHERE rn = 1 OR prev IS DISTINCT FROM event_type) "
    "SELECT user_id, state, epoch_us(ts) AS valid_from_us, "
    "epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_us, "
    "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current "
    "FROM s"
)


# round 11 registry discipline: the former q56_scd2_dimension (the
# full-history SCD2 build checked against the same _SCD2_ORACLE) is
# MERGED into q57 as its 'full' arm — the two queries shared one
# oracle and one output schema, so the tagged union verifies both
# paths in one registry slot (the q63 'incr'-branch pattern).
_SCD2_TAGGED_ORACLE = (
    f"WITH dim AS ({_SCD2_ORACLE}) "
    "SELECT 'full' AS tag, * FROM dim "
    "UNION ALL SELECT 'incr' AS tag, * FROM dim"
)


@register(
    "q57_scd2_incremental",
    _SCD2_TAGGED_ORACLE,
    "SCD2 dimension, both maintenance paths tagged in one result: "
    "'full' = the dimension built from the whole event history (per "
    "user, consecutive same-state events collapse into versioned rows "
    "with epoch-micro validity bounds; two window functions over ONE "
    "shuffle+sort, no history self-join), 'incr' = the dimension "
    "built from history before 2024-01-22 merged with the later "
    "events as an append-only batch — untouched keys pass through ONE "
    "broadcast anti-join (map-only dimension scan), touched keys "
    "re-collapse from (their versions as pseudo-events) + batch, "
    "O(touched + batch) regardless of dimension size. The oracle is "
    "DELIBERATELY the full-rebuild SQL for BOTH tags: incremental "
    "merge == full rebuild is the differential contract",
)
def q57(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    cut = F.lit("2024-01-22 00:00:00").cast("timestamp")
    full = M.scd2_from_events(
        e, "user_id", "ts", "event_type", tiebreak="event_id"
    )
    dim = M.scd2_from_events(
        e.filter(F.col("ts") < cut),
        "user_id",
        "ts",
        "event_type",
        tiebreak="event_id",
    )
    incr = M.scd2_merge_batch(
        dim,
        e.filter(F.col("ts") >= cut),
        "user_id",
        "ts",
        "event_type",
        tiebreak="event_id",
    )
    return full.select(F.lit("full").alias("tag"), "*").unionByName(
        incr.select(F.lit("incr").alias("tag"), "*")
    )


# --------------------------------------------------------------------
# q58: declarative data-quality constraint audit
# --------------------------------------------------------------------

_AUDIT_ORACLE = (
    # one SELECT per constraint, mirroring the single-pass Spark agg
    "SELECT 'not_null(o_custkey)' AS \"constraint\", "
    "count(*) FILTER (o_custkey IS NULL) AS violations, "
    "count(*) AS checked FROM orders "
    "UNION ALL SELECT 'unique(o_orderkey)', "
    "count(o_orderkey) - count(DISTINCT o_orderkey), count(o_orderkey) "
    "FROM orders "
    "UNION ALL SELECT 'in_range(o_totalprice,0,250000)', "
    "count(*) FILTER (o_totalprice IS NOT NULL AND "
    "o_totalprice NOT BETWEEN 0 AND 250000), count(o_totalprice) "
    "FROM orders "
    "UNION ALL SELECT 'accepted_values(o_orderstatus,[O,F])', "
    "count(*) FILTER (o_orderstatus IS NOT NULL AND "
    "o_orderstatus NOT IN ('O', 'F')), count(o_orderstatus) FROM orders "
    "UNION ALL SELECT 'matches(o_orderpriority,^[1-5]-)', "
    "count(*) FILTER (o_orderpriority IS NOT NULL AND "
    "NOT regexp_matches(o_orderpriority, '^[1-5]-')), "
    "count(o_orderpriority) FROM orders "
    "UNION ALL SELECT 'unique(c_nationkey)', "
    "count(c_nationkey) - count(DISTINCT c_nationkey), count(c_nationkey) "
    "FROM customer "
    "UNION ALL SELECT 'not_null(c_acctbal)', "
    "count(*) FILTER (c_acctbal IS NULL), count(*) FROM customer "
    "UNION ALL SELECT 'referential(o_custkey->c_custkey)', "
    "(SELECT count(*) FROM (SELECT o_custkey FROM orders "
    "WHERE o_custkey IS NOT NULL) o ANTI JOIN "
    "(SELECT DISTINCT c_custkey FROM customer) c "
    "ON o.o_custkey = c.c_custkey), count(o_custkey) FROM orders "
    "UNION ALL SELECT 'referential(l_orderkey->o_orderkey)', "
    "(SELECT count(*) FROM (SELECT l_orderkey FROM lineitem "
    "WHERE l_orderkey IS NOT NULL) l ANTI JOIN "
    "(SELECT DISTINCT o_orderkey FROM orders) o "
    "ON l.l_orderkey = o.o_orderkey), count(l_orderkey) FROM lineitem"
)
_AUDIT_ORACLE = (
    f"SELECT \"constraint\", violations, checked, violations = 0 AS passed "
    f"FROM ({_AUDIT_ORACLE})"
)


@register(
    "q58_constraint_audit",
    _AUDIT_ORACLE,
    "declarative data-quality expectations (the Deequ shape): "
    "not_null / unique / in_range / accepted_values / regex matches "
    "compile into ONE aggregation pass per table (all counters in a "
    "single agg, unpivoted via stack — constraint count never adds "
    "scans; unique = count minus distinct-count, no self-join), plus "
    "referential (FK orphan) audits as one anti-join probe each. "
    "Mixed pass/fail by design: the fixture's P-status orders, "
    ">250k prices and duplicate nation keys must surface as non-zero "
    "violation counts, the rest as passed=true",
)
def q58(spark, sf_dir):
    from kaj_query_engine_spark.operators import quality as Q

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    rep_o = Q.audit(
        o,
        [
            Q.not_null("o_custkey"),
            Q.unique("o_orderkey"),
            Q.in_range("o_totalprice", 0, 250000),
            Q.accepted_values("o_orderstatus", ["O", "F"]),
            Q.matches("o_orderpriority", "^[1-5]-"),
        ],
    )
    rep_c = Q.audit(c, [Q.unique("c_nationkey"), Q.not_null("c_acctbal")])
    fk1 = Q.referential(o, "o_custkey", c, "c_custkey")
    fk2 = Q.referential(li, "l_orderkey", o, "o_orderkey")
    return rep_o.unionAll(rep_c).unionAll(fk1).unionAll(fk2)


@register(
    "q59_pit_join",
    f"WITH dim AS ({_SCD2_ORACLE}) "
    "SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, d.state "
    "FROM events e LEFT JOIN dim d ON e.user_id = d.user_id "
    "AND epoch_us(e.ts) >= d.valid_from_us "
    "AND (d.valid_to_us IS NULL OR epoch_us(e.ts) < d.valid_to_us)",
    "point-in-time (SCD2 validity) join: every event enriched with "
    "the dimension version active at its timestamp. The oracle is the "
    "naive interval join; the Spark side is the as-of composition — "
    "contiguous validity chains make 'latest valid_from <= ts' equal "
    "to interval containment (ties at a version boundary land in the "
    "NEW version on both formulations: >= from, < to). ONE exchange "
    "via the union trick — never an inequality join plan",
)
def q59(spark, sf_dir):
    from kaj_query_engine_spark.operators import temporal as T

    e = t(spark, sf_dir, "events")
    dim = M.scd2_from_events(
        e, "user_id", "ts", "event_type", tiebreak="event_id"
    )
    facts = e.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    out = T.asof_join(
        facts,
        dim.select("user_id", "valid_from_us", "state"),
        "user_id",
        "ts_us",
        "valid_from_us",
        ["state"],
        how="left",
    )
    return out.select(
        "event_id", "user_id", "ts_us", F.col("asof_state").alias("state")
    )


# --------------------------------------------------------------------
# q44: incremental materialized-aggregate maintenance
# --------------------------------------------------------------------

_AGG_STATE_ORACLE = (
    # the oracle is the FULL aggregation over all orders — incremental
    # state merge == recompute is the differential contract (the SCD2
    # q57 pattern applied to materialized views)
    "SELECT o_custkey, count(*) AS n, "
    "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) "
    "AS sum_v, min(o_totalprice) AS mn, max(o_totalprice) AS mx "
    "FROM orders GROUP BY 1"
)


@register(
    "q44_incremental_agg",
    _AGG_STATE_ORACLE,
    "incremental materialized-view maintenance for ALGEBRAIC "
    "aggregates: a per-customer (count, sum, min, max) state table "
    "built from orders before 1998 is merged with the later orders' "
    "batch aggregates via merge_agg_state (one full-outer join; "
    "count/sum add, min/max least/greatest; sums carried as exact "
    "DECIMAL inside the state so the merge is associative without "
    "float drift, rounded only at the result boundary). The oracle "
    "is the full recompute over all orders — incremental == recompute "
    "is the contract; holistic aggregates (exact medians/distincts) "
    "deliberately can't ride this path, which is why the mergeable "
    "sketches exist (q45)",
)
def q44(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")

    def state_of(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    state = state_of(o.filter(F.col("o_orderdate") < cut))
    batch = state_of(o.filter(F.col("o_orderdate") >= cut))
    merged = M.merge_agg_state(
        state,
        batch,
        ["o_custkey"],
        {"n": "a + b", "s": "a + b", "mn": "least(a, b)", "mx": "greatest(a, b)"},
    )
    return merged.select(
        "o_custkey",
        "n",
        F.round(F.col("s"), 2).cast("double").alias("sum_v"),
        "mn",
        "mx",
    )


# --------------------------------------------------------------------
# q88: incremental maintenance of APPROXIMATE aggregates (HLL states)
# --------------------------------------------------------------------

_HLL_ORACLE = (
    # the q45 contract applied to incremental maintenance: the oracle
    # computes the EXACT per-segment distinct-user counts and states
    # that the merged-sketch estimate lands within the sketch's error
    # bound; Spark emits the exact count AND the within-bound boolean
    "SELECT event_type, count(DISTINCT user_id) AS nd_exact, "
    "TRUE AS est_ok FROM events GROUP BY 1"
)


@register(
    "q88_incremental_distinct",
    _HLL_ORACLE,
    "incremental maintenance of an APPROXIMATE aggregate: per-segment "
    "distinct-user HLL sketch STATES (binary, mergeable) built from "
    "pre-cut events, merged with the post-cut batch's states via "
    "hll_union — the merge_agg_state pattern extended to sketch "
    "payloads, closing the algebraic/holistic gap the q44 docstring "
    "points at (exact distinct is holistic and can't merge; its "
    "SKETCH is algebraic and can). Result: the exact distinct count "
    "(oracle-checked) plus a boolean pinning the merged-state "
    "estimate within the HLL error bound (lgConfigK=14 -> ~0.8% "
    "rsd; 5% gate). The estimate itself never crosses the result "
    "boundary — engines' HLL binaries differ, bounds don't",
)
def q88(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    cut = F.lit("2024-01-22 00:00:00").cast("timestamp")

    def sketch_state(df):
        return df.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id", F.lit(14)).alias("hll")
        )

    state = sketch_state(e.filter(F.col("ts") < cut))
    batch = sketch_state(e.filter(F.col("ts") >= cut))
    merged = M.merge_agg_state(
        state, batch, ["event_type"], {"hll": "hll_union(a, b)"}
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("nd_exact")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "nd_exact",
        (
            F.abs(
                F.hll_sketch_estimate(F.col("hll")) - F.col("nd_exact")
            )
            <= F.greatest(
                F.lit(1.0), F.col("nd_exact") * F.lit(0.05)
            )
        ).alias("est_ok"),
    )


# q67: incremental JOIN-view maintenance — the delta rule
# ΔV = ΔL ⋈ (R ∪ ΔR) ∪ L ⋈ ΔR. The oracle's 'delta' arm is computed
# INDEPENDENTLY of the rule: delta aggregates = full-recompute
# aggregates minus old-view aggregates, so a double-counted ΔL⋈ΔR
# overlap or a missed term diverges from simple set algebra, not from
# a mirror of the implementation. Exact integer sums (quantity as
# BIGINT, price in cents) keep both engines bit-identical.
_IVM_CUT_O = "1997-07-01 00:00:00"
_IVM_CUT_L = "1997-10-01 00:00:00"
_IVM_AGG = (
    "l_returnflag AS flag, count(*) AS n, "
    "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
    "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "AS sum_cents"
)
_IVM_ORACLE = (
    f"WITH full_agg AS (SELECT {_IVM_AGG} FROM orders o "
    "JOIN lineitem l ON o.o_orderkey = l.l_orderkey GROUP BY 1), "
    f"old_agg AS (SELECT {_IVM_AGG} FROM orders o "
    "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
    f"WHERE o.o_orderdate < TIMESTAMP '{_IVM_CUT_O}' "
    f"AND l.l_shipdate < TIMESTAMP '{_IVM_CUT_L}' GROUP BY 1) "
    "SELECT 'view' AS path, flag, n, sum_qty, sum_cents FROM full_agg "
    "UNION ALL SELECT 'delta', f.flag, f.n - COALESCE(o.n, 0), "
    "f.sum_qty - COALESCE(o.sum_qty, 0), "
    "f.sum_cents - COALESCE(o.sum_cents, 0) "
    "FROM full_agg f LEFT JOIN old_agg o ON f.flag = o.flag "
    "WHERE f.n - COALESCE(o.n, 0) > 0"
)

# q89: the STREAMING twins of q67's IVM, closing the matrix
# (batch/stream x insert-only/keyed). 'append': right-side append
# batches folded in through foreachBatch (dV = L x dR; the left side
# is static, so the dL terms vanish), oracle = the full recompute.
# 'cdc': a compacted CDC feed on the CUSTOMER dimension (U segment
# moves, D deletes, I late inserts — one op per key per batch) applied
# as a keyed touched-key refresh; the oracle folds the same
# deterministic modulo-class scenario to the final dimension state and
# recomputes. Delete-then-reinsert ordering is exercised: keys with
# custkey % 5 = 0 AND % 17 = 0 are deleted in batch 1 (a no-op — not
# yet present) and inserted in batch 2, so they MUST appear at close.
_SJV_ORACLE = (
    f"SELECT 'append' AS path, {_IVM_AGG} FROM orders o "
    "JOIN lineitem l ON o.o_orderkey = l.l_orderkey GROUP BY 2"
)
_SJV_CDC_ORACLE = (
    "SELECT 'cdc' AS path, seg AS flag, count(*) AS n, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_qty, "
    "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
    "AS sum_cents "
    "FROM orders o JOIN (SELECT c_custkey, "
    "CASE WHEN c_custkey % 5 != 0 AND c_custkey % 6 = 0 THEN 'MOVED' "
    "ELSE c_mktsegment END AS seg FROM customer "
    "WHERE c_custkey % 5 = 0 OR c_custkey % 17 != 0) c "
    "ON o.o_custkey = c.c_custkey "
    f"WHERE o.o_orderdate < TIMESTAMP '{_IVM_CUT_O}' GROUP BY 2"
)


def _cdc_landing(spark, sf_dir: str) -> str:
    """Write-once compacted-CDC landing dir for the customer dimension
    (``scale._mtime_landing``, like q81's): three single-file batches
    with ascending mtimes — segment updates, deletes, late inserts."""
    from kaj_query_engine_spark.workload.scale import (
        _SCRATCH,
        _mtime_landing,
        _tag,
    )

    def batches():
        cust = t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"),
            F.col("c_mktsegment").alias("seg"),
        )
        ck = F.col("o_custkey")
        return [
            cust.filter((ck % 5 != 0) & (ck % 6 == 0)).select(
                F.lit("U").alias("op"), "o_custkey",
                F.lit("MOVED").alias("seg"),
            ),
            cust.filter(ck % 17 == 0).select(
                F.lit("D").alias("op"), "o_custkey",
                F.lit(None).cast("string").alias("seg"),
            ),
            cust.filter(ck % 5 == 0).select(
                F.lit("I").alias("op"), "o_custkey", "seg"
            ),
        ]

    return _mtime_landing(
        f"{sf_dir}/customer.parquet",
        _SCRATCH / _tag(sf_dir) / "cdc_landing",
        "cdc:v1",
        batches,
    )


@register(
    "q89_stream_join_view",
    f"{_SJV_ORACLE} UNION ALL ({_SJV_CDC_ORACLE})",
    "streaming incremental JOIN-view maintenance (the fourth "
    "foreachBatch-maintenance family member: MERGE q85, SCD2 q86, "
    "aggregates q87, join views here), TWO branches closing the IVM "
    "matrix. 'append': the orders⋈lineitem view seeded from pre-cut "
    "shipments, maintained by the later lineitem rows — each batch "
    "folds in as ONE delta-bounded join dV = L ⋈ dR appended to the "
    "snapshot-isolated versioned table (per-commit batch ids upgrade "
    "at-least-once to effectively-once; the stored view is never "
    "re-joined); oracle = the full recompute. 'cdc': a compacted CDC "
    "feed on the CUSTOMER dimension (segment moves, deletes, late "
    "inserts across three micro-batches, delete-then-reinsert "
    "ordering exercised) applied as a keyed touched-key refresh — "
    "view rows for a touched dimension key ARE its pre-image, so no "
    "separate right-side state table is needed; oracle = the "
    "recompute from the folded final dimension state",
)
def q89(spark, sf_dir):
    from kaj_query_engine_spark.sources.versioned import VersionedTable
    from kaj_query_engine_spark.streaming import read_stream_table
    from kaj_query_engine_spark.streaming.ops import stream_join_view_apply
    from kaj_query_engine_spark.workload.scale import _SCRATCH, _tag

    o_slim = t(spark, sf_dir, "orders").select("o_orderkey")
    li_cols = [
        "o_orderkey", "l_returnflag", "l_quantity", "l_extendedprice",
        "l_shipdate",
    ]
    li = (
        t(spark, sf_dir, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
        .select(*li_cols)
    )
    cut_l = F.lit(_IVM_CUT_L).cast("timestamp")
    tbl = VersionedTable(_SCRATCH / _tag(sf_dir) / "stream_join_view")
    tbl.init(o_slim.join(li.filter(F.col("l_shipdate") < cut_l), "o_orderkey"))
    stream = (
        read_stream_table(spark, sf_dir, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
        .select(*li_cols)
        .filter(F.col("l_shipdate") >= cut_l)
    )
    # start the append lifecycle WITHOUT draining it (round-14, guide
    # §2.6 overlap-independent-jobs): the cdc branch below maintains a
    # DIFFERENT table from a different source, so its setup and its
    # micro-batches back-fill the cores this branch's batch tail
    # leaves idle; both results are only read after both streams
    # terminate, so the computed rows are bit-identical to the old
    # sequential drain
    sq1 = stream_join_view_apply(
        stream, tbl, o_slim, ["o_orderkey"], blocking=False
    )

    # ---- 'cdc' branch: keyed refresh under a dimension CDC feed -----
    # (set up and started while the append branch's micro-batches run)
    from kaj_query_engine_spark.streaming.ops import (
        stream_join_view_cdc_apply,
    )

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("seg"),
    )
    o_dim = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(_IVM_CUT_O).cast("timestamp"))
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )
    landing = _cdc_landing(spark, sf_dir)
    tbl2 = VersionedTable(_SCRATCH / _tag(sf_dir) / "stream_join_view_cdc")
    # bucketed on the dimension key: each CDC batch reads/rewrites
    # ONLY the key-buckets it touches (commit_keyed O(Δ) path)
    tbl2.init(
        o_dim.join(cust.filter(F.col("o_custkey") % 5 != 0), "o_custkey"),
        bucket_keys=["o_custkey"],
        n_buckets=8,
    )
    cdc_stream = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    sq2 = stream_join_view_cdc_apply(
        cdc_stream, tbl2, o_dim, ["o_custkey"], blocking=False
    )
    sq1.awaitTermination()
    sq2.awaitTermination()
    final = tbl.read(spark)
    final_cdc = tbl2.read(spark)

    # the round-9 O(Δ) write contract, asserted in the driver-checked
    # query itself — structurally, not by size (this fixture's delta
    # happens to be LARGER than the seed): every append manifest must
    # reference ALL of the previous version's files unchanged, i.e.
    # nothing already stored was ever rewritten (q33 pins the keyed
    # twin's carry-forward the same way)
    vs = tbl.versions()
    for prev, cur in zip(vs, vs[1:]):
        pf = {f["path"] for f in tbl.manifest(prev)["files"]}
        cf = {f["path"] for f in tbl.manifest(cur)["files"]}
        if not pf <= cf:
            raise RuntimeError(
                f"append commit v{cur} rewrote stored files: {sorted(pf - cf)[:3]}"
            )
    append = final.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("sum_cents"),
    ).select(F.lit("append").alias("path"), "*")
    cdc = final_cdc.groupBy(F.col("seg").alias("flag")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("sum_qty"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
    ).select(F.lit("cdc").alias("path"), "*")
    return append.unionAll(cdc)


# keyed IVM scenario (updates + deletes + inserts on BOTH sides of
# orders⋈customer): the oracle recomputes the POST-change sides from
# the same deterministic modulo classes the Spark query derives its
# change batches from, entirely independent of the signed-delta rule.
# sum_qty doubles as an order-key checksum here (no quantity column
# in this view); sum_cents is exact integer cents.
_KIVM_O_NEW = (
    "SELECT o_orderkey, o_custkey, CASE WHEN "
    f"o_orderdate < TIMESTAMP '{_IVM_CUT_O}' "
    "AND o_orderkey % 5 = 0 AND o_orderkey % 13 != 0 "
    "THEN o_totalprice + 1 ELSE o_totalprice END AS tp "
    "FROM orders WHERE o_orderkey % 13 != 0"
)
_KIVM_C_NEW = (
    "SELECT c_custkey, CASE WHEN c_custkey % 6 = 0 AND c_custkey % 17 != 0 "
    "THEN 'MOVED' ELSE c_mktsegment END AS seg "
    "FROM customer WHERE c_custkey % 17 != 0"
)
_KIVM_AGG = (
    "seg AS flag, count(*) AS n, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_qty, "
    "CAST(SUM(CAST(round(tp * 100) AS BIGINT)) AS BIGINT) AS sum_cents"
)
_KIVM_ORACLE = (
    f"WITH o_new AS ({_KIVM_O_NEW}), c_new AS ({_KIVM_C_NEW}), "
    f"new_agg AS (SELECT {_KIVM_AGG} FROM o_new "
    "JOIN c_new ON o_custkey = c_custkey GROUP BY 1), "
    "old_agg AS (SELECT c_mktsegment AS flag, count(*) AS n, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS sum_qty, "
    "CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
    "AS sum_cents FROM orders JOIN customer ON o_custkey = c_custkey "
    f"WHERE o_orderdate < TIMESTAMP '{_IVM_CUT_O}' GROUP BY 1) "
    "SELECT 'keyed' AS path, flag, n, sum_qty, sum_cents FROM new_agg "
    "UNION ALL SELECT 'keyed_delta', COALESCE(f.flag, o.flag), "
    "COALESCE(f.n, 0) - COALESCE(o.n, 0), "
    "COALESCE(f.sum_qty, 0) - COALESCE(o.sum_qty, 0), "
    "COALESCE(f.sum_cents, 0) - COALESCE(o.sum_cents, 0) "
    "FROM new_agg f FULL OUTER JOIN old_agg o ON f.flag = o.flag "
    "WHERE COALESCE(f.n, 0) - COALESCE(o.n, 0) != 0 "
    "OR COALESCE(f.sum_qty, 0) - COALESCE(o.sum_qty, 0) != 0 "
    "OR COALESCE(f.sum_cents, 0) - COALESCE(o.sum_cents, 0) != 0"
)


@register(
    "q67_incremental_join",
    f"{_IVM_ORACLE} UNION ALL ({_KIVM_ORACLE})",
    "incremental JOIN-view maintenance. Insert-only branches "
    "('view'/'delta', the Blakeley delta rule): the orders⋈lineitem "
    "view maintained by two append batches via "
    "dV = dL ⋈ (R ∪ dR) ∪ L ⋈ dR — each term joins a DELTA against a "
    "stored side (planner broadcasts the delta; the old view is never "
    "recomputed: O(delta⋈side), not O(L⋈R)); 'view' aggregates the "
    "MAINTAINED view against the full-recompute oracle "
    "(incremental==recompute law), 'delta' aggregates dV against the "
    "INDEPENDENT difference full−old, so overlap double-counting and "
    "missed terms both diverge. Keyed branches ('keyed'/'keyed_delta', "
    "DBToaster-style signed compensation): the orders⋈customer view "
    "maintained under UPDATES (order totalprice bumps, customer "
    "segment moves — rows change aggregation groups), DELETES on both "
    "sides, and inserts, via signed deltas (update = delete-then-"
    "insert) through the same two-term identity; 'keyed' checks the "
    "maintained view against an independent post-change recompute, "
    "'keyed_delta' checks the signed feed against the recompute "
    "difference new−old (negative counts included). Exact integer "
    "sums keep the engines bit-identical",
)
def q67(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    cut_o = F.lit(_IVM_CUT_O).cast("timestamp")
    cut_l = F.lit(_IVM_CUT_L).cast("timestamp")
    o0 = o.filter(F.col("o_orderdate") < cut_o)
    do = o.filter(F.col("o_orderdate") >= cut_o)
    l0 = li.filter(F.col("l_shipdate") < cut_l)
    dl = li.filter(F.col("l_shipdate") >= cut_l)
    view0 = o0.join(l0, on=["o_orderkey"])
    _new_view, delta_view = M.incremental_join_view(
        view0, o0, do, l0, dl, ["o_orderkey"]
    )

    # FUSED view/delta aggregation (round-15, guide §2.4): the 'view'
    # arm aggregates new_view = old_view ∪ delta_view (the operator's
    # return statement IS that union) and the 'delta' arm aggregates
    # delta_view again — so the two delta-join terms (ΔL⋈(R∪ΔR) ∪
    # L⋈ΔR, the expensive subtree) executed TWICE per run. One tagged
    # union instead: old-view rows carry ['view'], delta rows carry
    # ['view','delta'], exploded and aggregated in ONE groupBy — the
    # delta joins run once, and each path's groups see exactly the
    # same row multiset as before (counts and integer-cent sums are
    # associative, so partial grouping by path changes no value).
    # Only the three aggregated columns cross into the explode (§2.3).
    _acols = ["l_returnflag", "l_quantity", "l_extendedprice"]
    _tagged = view0.select(
        F.array(F.lit("view")).alias("_p"), *_acols
    ).unionByName(
        delta_view.select(
            F.array(F.lit("view"), F.lit("delta")).alias("_p"), *_acols
        )
    )
    iv_arms = (
        _tagged.select(F.explode("_p").alias("path"), *_acols)
        .groupBy("path", F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("sum_cents"),
        )
        .select("path", "flag", "n", "sum_qty", "sum_cents")
    )

    # ---- keyed branches: updates + deletes + inserts ----------------
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("seg"),
    )
    ok = F.col("o_orderkey")
    ck = F.col("o_custkey")
    o_slim = o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    o0k = o_slim.filter(F.col("o_orderdate") < cut_o).drop("o_orderdate")
    view0k = o0k.join(cust, on=["o_custkey"])
    ups_o = (
        o_slim.filter(
            (F.col("o_orderdate") >= cut_o) & (ok % 13 != 0)
        ).drop("o_orderdate")  # inserts, raw
        .unionByName(
            o0k.filter((ok % 5 == 0) & (ok % 13 != 0)).withColumn(
                "o_totalprice", F.col("o_totalprice") + 1
            )  # updates
        )
    )
    del_o = o_slim.filter(ok % 13 == 0).select("o_orderkey")
    ups_c = cust.filter((ck % 6 == 0) & (ck % 17 != 0)).withColumn(
        "seg", F.lit("MOVED")
    )
    del_c = cust.filter(ck % 17 == 0).select("o_custkey")
    v_keyed, dv_keyed = M.incremental_join_view_keyed(
        view0k, o0k, cust, ["o_custkey"], ["o_orderkey"], ["o_custkey"],
        left_upserts=ups_o, left_deletes=del_o,
        right_upserts=ups_c, right_deletes=del_c,
    )
    # NEGATIVE RESULT, measured and dropped (round-15, the q52/q93
    # persist lesson a third time): persisting dv_keyed so its three
    # plan references (v_keyed's anti-join keys, v_keyed's added
    # rows, the 'keyed_delta' aggregate) share one execution measured
    # 2.9-3.4 s / 19 jobs vs 2.8-2.9 s / 17 jobs WITHOUT it at sf0.1
    # — the InMemoryRelation's materialization jobs cost more than
    # the delta-bounded re-execution it saves. Left un-persisted.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    keyed = v_keyed.groupBy(F.col("seg").alias("flag")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("sum_qty"),
        F.sum(cents).alias("sum_cents"),
    ).select(F.lit("keyed").alias("path"), "*")
    keyed_delta = (
        dv_keyed.groupBy(F.col("seg").alias("flag"))
        .agg(
            F.sum("m").cast("long").alias("n"),
            F.sum(F.col("m") * F.col("o_orderkey")).alias("sum_qty"),
            F.sum(F.col("m") * cents).alias("sum_cents"),
        )
        .filter(
            (F.col("n") != 0)
            | (F.col("sum_qty") != 0)
            | (F.col("sum_cents") != 0)
        )
        .select(F.lit("keyed_delta").alias("path"), "*")
    )
    return iv_arms.unionAll(keyed).unionAll(keyed_delta)


# ---- q33: table time travel / version change feed -------------------
#
# The round-9 manifest machinery under its own oracle: a bucketed
# VersionedTable seeded from pre-cut orders takes three SMALL keyed
# batches (update / delete / late insert — sparse modulo classes, so
# most of the 32 buckets are untouched and their files carry forward
# byte-identical across all three commits), then three branches read
# THROUGH the table: the frozen v0 snapshot (time travel), the final
# state, and snapshot_diff(v0, final) — a change feed computed between
# two VERSIONS of one table, which is what every incremental consumer
# replays after the fact. All-integer cents, so the oracle recomputes
# every branch from the same modulo classes exactly.
_TT_CUT = _IVM_CUT_O
# sparse classes on purpose: a handful of touched keys per batch hash
# into a few of the 32 buckets, so MOST buckets carry forward through
# all three commits at every fixture scale (at sf0.1's ~112k pre-cut
# orders these are ~16 / ~10 / ~4 keys; denser classes would touch
# every bucket and reduce the carry-forward invariant to luck)
_TT_UPD, _TT_DEL, _TT_INS = 7001, 11003, 9973
_TT_BASE = (
    "SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) "
    f"AS cents FROM orders WHERE o_orderdate < TIMESTAMP '{_TT_CUT}'"
)
_TT_INS_SQL = (
    "SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) "
    f"AS cents FROM orders WHERE o_orderdate >= TIMESTAMP '{_TT_CUT}' "
    f"AND o_orderkey % {_TT_INS} = 0"
)
_TT_ORACLE = (
    f"WITH base AS ({_TT_BASE}), ins AS ({_TT_INS_SQL}), "
    "fin AS (SELECT k, CASE WHEN k % "
    f"{_TT_UPD} = 0 THEN cents + 1000 ELSE cents END AS cents "
    f"FROM base WHERE k % {_TT_DEL} != 0 "
    "UNION ALL SELECT k, cents FROM ins) "
    "SELECT 'v0' AS path, '-' AS op, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(k) AS BIGINT) AS key_sum, CAST(sum(cents) AS BIGINT) "
    "AS cents_sum FROM base "
    "UNION ALL SELECT 'final', '-', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM fin "
    "UNION ALL SELECT 'feed', 'I', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM ins "
    "HAVING count(*) > 0 "
    "UNION ALL SELECT 'feed', 'U', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents + 1000) AS BIGINT) "
    f"FROM base WHERE k % {_TT_UPD} = 0 AND k % {_TT_DEL} != 0 "
    "HAVING count(*) > 0 "
    "UNION ALL SELECT 'feed', 'D', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents) AS BIGINT) "
    f"FROM base WHERE k % {_TT_DEL} = 0 HAVING count(*) > 0 "
    # the recorded change feed is PER-COMMIT, not endpoint-to-endpoint:
    # a key in both the update and delete classes (key 0 qualifies for
    # every modulo class) shows U at v1 and then D at v2 with the
    # UPDATED pre-image -- exactly where a CDF legitimately differs
    # from snapshot_diff(v0, final), so the oracle models each commit:
    # U = every updated key (even if later deleted), D pre-image =
    # the state at deletion time
    "UNION ALL SELECT 'cdf', 'I', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM ins "
    "HAVING count(*) > 0 "
    "UNION ALL SELECT 'cdf', 'U', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents + 1000) AS BIGINT) "
    f"FROM base WHERE k % {_TT_UPD} = 0 HAVING count(*) > 0 "
    "UNION ALL SELECT 'cdf', 'D', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents + CASE WHEN k % "
    f"{_TT_UPD} = 0 THEN 1000 ELSE 0 END) AS BIGINT) "
    f"FROM base WHERE k % {_TT_DEL} = 0 HAVING count(*) > 0 "
    # signed aggregate maintenance from the feed: the delta every
    # SUM/COUNT moved across the fed range is final-minus-initial
    "UNION ALL SELECT 'agg_delta', '-', "
    "CAST((SELECT count(*) FROM fin) - (SELECT count(*) FROM base) "
    "AS BIGINT), "
    "CAST((SELECT COALESCE(sum(k), 0) FROM fin) - "
    "(SELECT COALESCE(sum(k), 0) FROM base) AS BIGINT), "
    "CAST((SELECT COALESCE(sum(cents), 0) FROM fin) - "
    "(SELECT COALESCE(sum(cents), 0) FROM base) AS BIGINT)"
)


@register(
    "q33_table_time_travel",
    _TT_ORACLE,
    "table time travel + version change feed over the manifest-based "
    "VersionedTable: pre-cut orders (integer cents) seeded at v0 in a "
    "32-bucket keyed layout, then three sparse keyed batches — "
    f"updates (+1000 cents, keys % {_TT_UPD}), deletes (% {_TT_DEL}), "
    f"late inserts (post-cut keys % {_TT_INS}) — applied via "
    "commit_keyed, so each commit rewrites only the few buckets its "
    "keys hash into and carries the rest forward byte-identical "
    "(invariant-asserted: v0 data files still referenced by the final "
    "manifest, delta commits smaller than init). Branches: 'v0' reads "
    "the frozen version (time travel), 'final' the current state, "
    "'feed' = snapshot_diff between the two VERSIONS (I/U/D with "
    "integer checksums), 'cdf' = the RECORDED change data feed "
    "(read_changes over all three commits — per-commit I/U/D written "
    "O(Δ) at commit time; key 0 sits in every modulo class, so the "
    "feed shows its U-then-D sequence with the updated pre-image, "
    "which the endpoint diff cannot — a genuine CDF discriminator). "
    "'agg_delta' = feed_agg_delta over the pre-image-bearing feed "
    "(signed one-pass SUM/COUNT maintenance) vs the oracle's "
    "final-minus-initial difference. Oracle recomputes all five "
    "branches from the same modulo classes",
)
def q33(spark, sf_dir):
    from kaj_query_engine_spark.sources.versioned import VersionedTable
    from kaj_query_engine_spark.workload.scale import _SCRATCH, _tag

    cut = F.lit(_TT_CUT).cast("timestamp")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    k = F.col("o_orderkey")
    base = o.filter(F.col("o_orderdate") < cut).select(
        k.alias("k"), "cents"
    )
    tbl = VersionedTable(_SCRATCH / _tag(sf_dir) / "time_travel_table")
    tbl.init(base, bucket_keys=["k"], n_buckets=32, change_feed=True)

    kk = F.col("k")
    upd = base.filter(kk % _TT_UPD == 0).select(
        "k", (F.col("cents") + 1000).alias("cents")
    )
    v1 = tbl.commit_keyed(upd, upd.select("k"))
    dels = base.filter(kk % _TT_DEL == 0).select("k")
    v2 = tbl.commit_keyed(base.limit(0), dels)
    ins = o.filter((F.col("o_orderdate") >= cut) & (k % _TT_INS == 0)).select(
        k.alias("k"), "cents"
    )
    v3 = tbl.commit_keyed(ins, ins.select("k"))

    # manifest invariants, asserted loudly (q85's discipline): history
    # intact, untouched v0 files carried into the FINAL manifest, and
    # every keyed commit wrote less than the init did. Version ids are
    # CAPTURED, not assumed consecutive: a modulo class that is empty
    # at this fixture scale short-circuits to a no-op (round 10's
    # empty-touched rule — no version minted, no stray churn), which
    # is itself part of the contract under test
    committed = sorted({0, v1, v2, v3})
    if tbl.versions() != committed:
        raise RuntimeError("time-travel history lost a version")
    v0_files = {f["path"] for f in tbl.manifest(0)["files"]}
    fin_files = {f["path"] for f in tbl.manifest(v3)["files"]}
    if not (v0_files & fin_files):
        raise RuntimeError("keyed commits rewrote every v0 file")
    if any(
        tbl.bytes_added(v) >= tbl.bytes_added(0)
        for v in committed
        if v != 0
    ):
        raise RuntimeError("a keyed delta commit wrote init-scale bytes")
    # two-level metadata (round 11): each sparse keyed commit must
    # CARRY most of the previous version's shard files by reference
    # (content-addressed reuse — untouched buckets cost zero metadata
    # IO) and record file-granular pruning in its manifest
    for prev, v in zip(committed, committed[1:]):
        s_prev = {s["path"] for s in tbl._manifest_lite(prev)["shards"]}
        man_v = tbl._manifest_lite(v)
        s_v = {s["path"] for s in man_v["shards"]}
        if len(s_prev & s_v) < len(s_prev) // 2:
            raise RuntimeError(
                f"keyed commit v{v} reused only {len(s_prev & s_v)} of "
                f"{len(s_prev)} prior metadata shards — carry-by-"
                "reference is not happening"
            )
        if man_v["keyed"]["pruning"] != "file":
            raise RuntimeError(
                f"sparse keyed commit v{v} recorded "
                f"{man_v['keyed']['pruning']!r} pruning, not 'file'"
            )

    v0 = tbl.read(spark, 0)
    fin = tbl.read(spark)
    feed = M.snapshot_diff(v0, fin, ["k"])

    def arm(df, path, op_col):
        return df.groupBy(op_col.alias("op")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("key_sum"),
            F.sum("cents").alias("cents_sum"),
        ).select(F.lit(path).alias("path"), "op", "n", "key_sum", "cents_sum")

    # ONE feed read serves both arms: the pre-image-bearing frame is
    # the superset, and the plain cdf view is exactly op != 'U-'
    full_feed = tbl.read_changes(
        spark, 0, v3, include_preimages=True
    ).drop("_commit_version")
    cdf = full_feed.filter(F.col("op") != "U-")
    # the signed consumer: with update pre-images in the feed, one
    # pass yields the exact delta each additive aggregate moved —
    # checked against the oracle's final-minus-initial difference
    from kaj_query_engine_spark.sources.versioned import feed_agg_delta

    delta = feed_agg_delta(full_feed, ["k", "cents"]).select(
        F.lit("agg_delta").alias("path"),
        F.lit("-").alias("op"),
        F.col("d_count").alias("n"),
        F.col("d_k").alias("key_sum"),
        F.col("d_cents").alias("cents_sum"),
    )
    return (
        arm(v0, "v0", F.lit("-"))
        .unionAll(arm(fin, "final", F.lit("-")))
        .unionAll(arm(feed, "feed", F.col("op")))
        .unionAll(arm(cdf, "cdf", F.col("op")))
        .unionAll(delta)
    )


# ---- q19: bucket-spec evolution lifecycle ----------------------------
#
# The round-10/11 storage design under its own oracle: file-bounded
# keyed rewrites (manifest khr/khs stats prune at FILE granularity),
# append strays range/exact-list-pruned past keyed commits that cannot
# touch them, and the bucket spec evolving LAZILY (round 11):
# start_rebucket() retargets the spec metadata-only, rebucket_step()
# migrates one bounded bucket chunk per resumable commit, and a keyed
# delete lands MID-MIGRATION while half the table sits on each spec —
# with history, the change feed, the replay law, and a mixed-spec
# snapshot read ('mid' arm) all crossing the evolution intact.
# Sparse update/delete classes keep the carried-files invariants
# deterministic (q33's rule); the dense insert class makes the strays
# real. All-integer cents.
_BE_CUT = _IVM_CUT_O
_BE_UPD, _BE_DEL, _BE_INS = 5_003, 11_003, 149
_BE_BASE = (
    "SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) "
    f"AS cents FROM orders WHERE o_orderdate < TIMESTAMP '{_BE_CUT}'"
)
_BE_INS_SQL = (
    "SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) "
    f"AS cents FROM orders WHERE o_orderdate >= TIMESTAMP '{_BE_CUT}' "
    f"AND o_orderkey % {_BE_INS} = 0"
)
_BE_ORACLE = (
    f"WITH base AS ({_BE_BASE}), ins AS ({_BE_INS_SQL}), "
    # mid = the update applied, deletes not yet (the snapshot read
    # while the table is HALF-MIGRATED between two bucket specs)
    "mid AS (SELECT k, CASE WHEN k % "
    f"{_BE_UPD} = 0 THEN cents + 500 ELSE cents END AS cents "
    "FROM base UNION ALL SELECT k, cents FROM ins), "
    f"fin AS (SELECT k, cents FROM mid WHERE k % {_BE_DEL} != 0) "
    "SELECT 'v0' AS path, '-' AS op, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(k) AS BIGINT) AS key_sum, CAST(sum(cents) AS BIGINT) "
    "AS cents_sum FROM base "
    "UNION ALL SELECT 'mid', '-', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM mid "
    "UNION ALL SELECT 'final', '-', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM fin "
    # the replay arm re-states fin: apply_change_feed(v0, feed) must
    # land on the final state even though the feed CROSSES the whole
    # lazy migration (metadata commit + chunk steps are changeless)
    "UNION ALL SELECT 'replay', '-', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM fin "
    "UNION ALL SELECT 'feed', 'I', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM ins "
    "HAVING count(*) > 0 "
    "UNION ALL SELECT 'feed', 'U', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents + 500) AS BIGINT) "
    f"FROM base WHERE k % {_BE_UPD} = 0 HAVING count(*) > 0 "
    # D pre-images carry the state AT DELETE TIME: an updated-then-
    # deleted BASE key shows its +500 pre-image; an inserted key in
    # the update class does NOT (the update batch touches base keys
    # only — key 0 sits in every modulo class and is a post-cut
    # insert, the case that caught a first draft of this oracle)
    "UNION ALL SELECT 'feed', 'D', CAST(count(*) AS BIGINT), "
    "CAST(sum(k) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM mid "
    f"WHERE k % {_BE_DEL} = 0 HAVING count(*) > 0"
)


@register(
    "q19_bucket_evolution",
    _BE_ORACLE,
    "bucket-spec evolution lifecycle over the VersionedTable: init at "
    "n_buckets=2 with a small file target (forcing real hash-range "
    "sub-splits), append post-cut inserts as strays (exact-hash-list "
    f"pruning metadata recorded), sparse keyed update (% {_BE_UPD}) — "
    "invariant-asserted to rewrite at most one FILE per touched key, "
    "to carry every stray forward unread, and (round 11) to record "
    "pruning='file' in history — then the spec evolves LAZILY to 8: "
    "start_rebucket is asserted metadata-only (zero bytes added), "
    "rebucket_step migrates ONE old-spec bucket (step bytes bounded "
    "by the chunk, pending shrinks by exactly the chunk), and the "
    f"sparse keyed delete (% {_BE_DEL}) lands MID-MIGRATION while "
    "files sit on both specs, still file-bounded. Remaining steps "
    "finish the migration (asserted drained). Branches: 'v0' time "
    "travel, 'mid' = the mixed-spec snapshot read (update applied, "
    "deletes not yet), 'final' current state, 'replay' = "
    "apply_change_feed(v0, read_changes) ACROSS the whole migration "
    "(metadata commit + chunk steps are changeless), 'feed' = "
    "recorded per-commit I/U/D including the updated-then-deleted "
    "pre-image case. Oracle recomputes every branch from the modulo "
    "classes",
)
def q19(spark, sf_dir):
    from kaj_query_engine_spark.sources.versioned import (
        VersionedTable,
        apply_change_feed,
    )
    from kaj_query_engine_spark.workload.scale import _SCRATCH, _tag

    cut = F.lit(_BE_CUT).cast("timestamp")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    k = F.col("o_orderkey")
    base = o.filter(F.col("o_orderdate") < cut).select(k.alias("k"), "cents")
    ins = o.filter((F.col("o_orderdate") >= cut) & (k % _BE_INS == 0)).select(
        k.alias("k"), "cents"
    )
    tbl = VersionedTable(_SCRATCH / _tag(sf_dir) / "bucket_evolution_table")
    tbl.init(
        base, bucket_keys=["k"], n_buckets=2, change_feed=True,
        # small enough to force real sub-splits at sf0.1 (16 files per
        # bucket) without drowning the query in per-file stat reads
        target_file_rows=4096,
    )
    v1 = tbl.commit_append(ins)

    kk = F.col("k")
    upd = base.filter(kk % _BE_UPD == 0).select(
        "k", (F.col("cents") + 500).alias("cents")
    )
    n_upd = upd.count()
    v2 = tbl.commit_keyed(upd, upd.select("k"))
    man1 = tbl.manifest(v1)
    man2 = tbl.manifest(v2)
    p1 = {f["path"] for f in man1["files"]}
    p2 = {f["path"] for f in man2["files"]}
    strays1 = {f["path"] for f in man1["files"] if f["kb"] is None}
    if not strays1 <= p2:
        raise RuntimeError(
            "keyed update rewrote append strays its keys cannot touch "
            "(exact-hash-list pruning failed)"
        )
    if len(p1 - p2) > n_upd:
        raise RuntimeError(
            f"keyed update rewrote {len(p1 - p2)} files for {n_upd} "
            "touched keys — the rewrite unit is not file-bounded"
        )

    hist2 = tbl.history()[-1]
    if (hist2.get("keyed") or {}).get("pruning") != "file":
        raise RuntimeError(
            "sparse keyed update did not record file-granular pruning "
            f"in history: {hist2.get('keyed')}"
        )

    # the rebucket-trigger advisory (round 13; round-14 advice moved
    # the trigger from MEAN to MAX files-per-bucket — the per-bucket
    # file list is the keyed-commit rewrite/metadata unit, and skew
    # hides from the mean) must be CONSISTENT with its documented
    # rule at this table's actual file census: fires when any bucket
    # exceeds the threshold, with the smallest power-of-two multiple
    # restoring BOTH max and mean; quiet within bounds (sf0.01 tables
    # sit under it; sf0.1's per-bucket layout fires)
    per_bucket: dict = {}
    for f in man2["files"]:
        if f["kb"] is not None:
            per_bucket[f["kb"]] = per_bucket.get(f["kb"], 0) + 1
    n_bucketed = sum(per_bucket.values())
    max_b = max(per_bucket.values(), default=0)
    sug = tbl.suggest_rebucket()
    if sug is None:
        if max_b > 8:
            raise RuntimeError(
                f"suggest_rebucket stayed quiet at max {max_b} "
                "files in one bucket (threshold 8)"
            )
    else:
        half = sug // 2
        restored = n_bucketed <= sug * 8 and max_b <= (sug // 2) * 8
        smallest = n_bucketed > half * 8 or max_b > (half // 2) * 8
        if sug % 2 != 0 or max_b <= 8 or not restored or not smallest:
            raise RuntimeError(
                f"suggest_rebucket proposed {sug} for {n_bucketed} "
                f"files (max {max_b}/bucket) on 2 buckets — not the "
                "smallest bound-restoring multiple of the max rule"
            )

    # ---- lazy spec evolution 2 -> 8 (round 11) -----------------------
    v3 = tbl.start_rebucket(8)
    if tbl.bytes_added(v3) != 0:
        raise RuntimeError("start_rebucket wrote data: not metadata-only")
    if tbl.manifest(v3).get("n_buckets") != 8 or tbl.manifest(0).get(
        "n_buckets"
    ) != 2:
        raise RuntimeError("start_rebucket did not version the bucket spec")
    mig = tbl.migration(v3)
    if mig is None or mig["pending_buckets"].get(2) != [0, 1]:
        raise RuntimeError(f"migration state wrong after start: {mig}")
    chunk_bytes = sum(
        f["bytes"]
        for f in tbl.manifest(v3)["files"]
        if f.get("nb") == 2 and f["kb"] == 0
    )
    v4 = tbl.rebucket_step(spark, max_buckets=1)
    mig4 = tbl.migration(v4)
    if mig4 is None or mig4["pending_buckets"].get(2) != [1]:
        raise RuntimeError(f"step did not migrate exactly one bucket: {mig4}")
    if tbl.bytes_added(v4) > 3 * chunk_bytes + 65536:
        raise RuntimeError(
            f"step wrote {tbl.bytes_added(v4)} bytes for a "
            f"{chunk_bytes}-byte chunk — not chunk-bounded"
        )
    if tbl.suggest_rebucket() is not None:
        raise RuntimeError(
            "suggest_rebucket fired mid-migration — the pending "
            "evolution already addresses the metadata growth"
        )
    mid = tbl.read(spark, v4)  # the mixed-spec snapshot, read later

    # keyed delete MID-MIGRATION: files sit on both specs, pruning
    # runs per file under the file's own spec, still file-bounded
    full = base.unionByName(ins)
    dels = full.filter(kk % _BE_DEL == 0).select("k")
    n_del = dels.count()
    v5 = tbl.commit_keyed(base.limit(0), dels)
    man4 = tbl.manifest(v4)
    man5 = tbl.manifest(v5)
    p4 = {f["path"] for f in man4["files"]}
    p5 = {f["path"] for f in man5["files"]}
    if len(p4 - p5) > n_del:
        raise RuntimeError(
            f"mid-migration keyed delete rewrote {len(p4 - p5)} "
            f"files for {n_del} touched keys"
        )
    hist5 = tbl.history()[-1]
    if (hist5.get("keyed") or {}).get("pruning") != "file":
        raise RuntimeError(
            "mid-migration delete did not record file-granular pruning"
        )

    # drain the migration: bounded resumable steps until none pending
    # (the delete may already have migrated touched files organically)
    step_versions = []
    while (vs := tbl.rebucket_step(spark, max_buckets=1)) is not None:
        step_versions.append(vs)
    if tbl.migration() is not None:
        raise RuntimeError("migration did not drain")
    vend = step_versions[-1] if step_versions else v5
    man_end = tbl.manifest(vend)
    if any(
        "nb" in f for f in man_end["files"] if f["kb"] is not None
    ) or man_end.get("n_buckets") != 8:
        raise RuntimeError("post-migration manifest still mixed-spec")
    committed = sorted({0, v1, v2, v3, v4, v5, *step_versions})
    if tbl.versions() != committed:
        raise RuntimeError("evolution lifecycle lost a version")

    v0 = tbl.read(spark, 0)
    fin = tbl.read(spark)
    feed = tbl.read_changes(spark, 0, vend)
    replayed = apply_change_feed(v0, feed, ["k"])

    def arm(df, path, op_col):
        return df.groupBy(op_col.alias("op")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("key_sum"),
            F.sum("cents").alias("cents_sum"),
        ).select(F.lit(path).alias("path"), "op", "n", "key_sum", "cents_sum")

    return (
        arm(v0, "v0", F.lit("-"))
        .unionAll(arm(mid, "mid", F.lit("-")))
        .unionAll(arm(fin, "final", F.lit("-")))
        .unionAll(arm(replayed, "replay", F.lit("-")))
        .unionAll(arm(feed.drop("_commit_version"), "feed", F.col("op")))
    )
