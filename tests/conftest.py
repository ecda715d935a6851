"""Shared test fixtures: one SparkSession per test session, reference
4-table schema data (FIXTURES.md §A), and the driver parquet fixtures.
"""

from __future__ import annotations

import itertools
import os
import random
import time

import pytest

from kaj_query_engine_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("kaj-tests", master="local[4]", shuffle_partitions=4)
    yield spark


_JOB_GROUPS = itertools.count()


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh Spark job group and return
    ``(fn's result, number of Spark jobs it started)``.

    The status tracker fills asynchronously, so a sentinel job runs
    afterwards under a group of its own: once the tracker shows it,
    every earlier job is visible too (the listener bus delivers events
    in order)."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "counted")
    try:
        result = fn()
    finally:
        sc.setJobGroup(f"{group}-sentinel", "sentinel")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{group}-sentinel"):
        assert time.monotonic() < deadline, "sentinel job never seen"
        time.sleep(0.05)
    return result, len(tracker.getJobIdsForGroup(group))


def _rand_rows(seed: int, spec, n: int):
    """Deterministic rows in the spirit of the reference's RandomDB
    (``/root/reference/src/RandomDB.java:117-144``): PK ints unique in
    [0, range); FK/NK ints uniform; strings random lowercase."""
    rng = random.Random(seed)
    rows = []
    pk_pools: dict[int, list[int]] = {}
    for i, (name, typ, rng_size, key) in enumerate(spec):
        if key == "PK":
            pool = list(range(rng_size))
            rng.shuffle(pool)
            pk_pools[i] = pool
    for r in range(n):
        row = []
        for i, (name, typ, rng_size, key) in enumerate(spec):
            if key == "PK":
                row.append(pk_pools[i][r % rng_size])
            elif typ == "INTEGER":
                row.append(rng.randrange(rng_size))
            else:
                row.append(
                    "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng_size))
                )
        rows.append(tuple(row))
    return rows


REF_SPECS = {
    # FIXTURES.md §A — the reference's 4-table star/chain schema
    "customer_ref": [
        ("cid", "INTEGER", 200, "PK"),
        ("gender", "INTEGER", 2, "NK"),
        ("firstname", "STRING", 10, "NK"),
        ("lastname", "STRING", 10, "NK"),
        ("address", "STRING", 26, "NK"),
    ],
    "cart_ref": [
        ("cartid", "INTEGER", 200, "PK"),
        ("cid", "INTEGER", 200, "FK"),
        ("status", "STRING", 8, "NK"),
        ("remarks", "STRING", 38, "NK"),
    ],
    "cartdetails_ref": [
        ("iid", "INTEGER", 200, "PK"),
        ("cartid", "INTEGER", 200, "FK"),
        ("qty", "INTEGER", 50, "NK"),
        ("remarks", "STRING", 44, "NK"),
    ],
    "bill_ref": [
        ("billid", "INTEGER", 200, "PK"),
        ("iid", "INTEGER", 200, "FK"),
        ("amount", "INTEGER", 2500, "NK"),
        ("remarks", "STRING", 44, "NK"),
    ],
}


@pytest.fixture(scope="session")
def ref_tables(spark):
    """{name: (spark DataFrame, list-of-row-tuples, column names)} for
    the reference schema; same rows registered in Spark and handed to
    DuckDB so differential tests share one input."""
    out = {}
    for seed, (name, spec) in enumerate(REF_SPECS.items()):
        rows = _rand_rows(42 + seed, spec, 150)
        cols = [c[0] for c in spec]
        schema = ", ".join(
            f"{c[0]} {'int' if c[1] == 'INTEGER' else 'string'}" for c in spec
        )
        df = spark.createDataFrame(rows, schema=schema)
        out[name] = (df, rows, cols)
    return out


@pytest.fixture(scope="session")
def duck(ref_tables):
    """DuckDB connection with the same reference tables registered."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for name, (_df, rows, cols) in ref_tables.items():
        pdf = pd.DataFrame(rows, columns=cols)
        con.register(name, pdf)
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(rows, columns):
    """Order-insensitive, column-order-insensitive canonical form."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        tuple(_canon_value(row[i]) for i in idx) for row in rows
    )
    return [tuple(sorted(c for c in columns))] + canon


def _canon_value(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def assert_same_result(spark_df, duck_con, sql):
    """Differential check: Spark DataFrame vs DuckDB SQL result."""
    expected = duck_con.execute(sql)
    exp_cols = [d[0] for d in expected.description]
    exp_rows = expected.fetchall()
    got_rows = [tuple(r) for r in spark_df.collect()]
    got = normalize(got_rows, list(spark_df.columns))
    want = normalize(exp_rows, exp_cols)
    assert got == want, f"mismatch\n spark={got[:5]}...\n duck={want[:5]}..."
