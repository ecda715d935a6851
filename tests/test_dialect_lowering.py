"""Differential tests: dialect queries lowered to Spark vs DuckDB SQL
on identical in-memory data (reference 4-table schema, FIXTURES.md §A).

The 9 reference queries (``/root/reference/testcases/``) are
transliterated onto the ``*_ref`` table names; the §2.3 semantic quirks
get dedicated cases.
"""

import pytest

from kaj_query_engine_spark.engine import (
    _PLAN_CACHE_SIZE,
    KajEngine,
    KajEngineGolden,
)
from tests.conftest import SF_DIR, assert_same_result, count_jobs


@pytest.fixture(scope="module")
def engine(spark, ref_tables):
    eng = KajEngine(spark)
    for name, (df, _rows, _cols) in ref_tables.items():
        eng.register(name, df)
    return eng


def run(engine, duck, dialect_sql, oracle_sql):
    assert_same_result(engine.sql(dialect_sql), duck, oracle_sql)


def test_query1_full_scan(engine, duck):
    run(engine, duck, "SELECT * FROM customer_ref", "SELECT * FROM customer_ref")


def test_query2_filter_project(engine, duck):
    run(
        engine,
        duck,
        'SELECT customer_ref.cid, customer_ref.gender, customer_ref.firstname '
        'FROM customer_ref WHERE customer_ref.gender="1"',
        "SELECT cid, gender, firstname FROM customer_ref WHERE gender = 1",
    )


def test_query4_two_way_join(engine, duck):
    run(
        engine,
        duck,
        "SELECT * FROM customer_ref,cart_ref WHERE customer_ref.cid=cart_ref.cid",
        "SELECT * FROM customer_ref c JOIN cart_ref ca ON c.cid = ca.cid",
    )


def test_query5_three_way_join(engine, duck):
    run(
        engine,
        duck,
        "SELECT * FROM customer_ref,cart_ref,cartdetails_ref "
        "WHERE customer_ref.cid=cart_ref.cid,cart_ref.cartid=cartdetails_ref.cartid",
        "SELECT * FROM customer_ref c JOIN cart_ref ca ON c.cid = ca.cid "
        "JOIN cartdetails_ref cd ON ca.cartid = cd.cartid",
    )


def test_query6_join_with_range_filters(engine, duck):
    run(
        engine,
        duck,
        "SELECT * FROM customer_ref,cart_ref,cartdetails_ref,bill_ref "
        "WHERE customer_ref.cid=cart_ref.cid,cart_ref.cartid=cartdetails_ref.cartid,"
        'cartdetails_ref.iid=bill_ref.iid,bill_ref.amount<"1000",bill_ref.amount>"500"',
        "SELECT * FROM customer_ref c JOIN cart_ref ca ON c.cid = ca.cid "
        "JOIN cartdetails_ref cd ON ca.cartid = cd.cartid "
        "JOIN bill_ref b ON cd.iid = b.iid WHERE b.amount < 1000 AND b.amount > 500",
    )


def test_query7_join_project(engine, duck):
    run(
        engine,
        duck,
        "SELECT customer_ref.gender, bill_ref.amount "
        "FROM customer_ref,cart_ref,cartdetails_ref,bill_ref "
        "WHERE customer_ref.cid=cart_ref.cid,cart_ref.cartid=cartdetails_ref.cartid,"
        'cartdetails_ref.iid=bill_ref.iid,bill_ref.amount<"1000",bill_ref.amount>"500"',
        "SELECT c.gender, b.amount FROM customer_ref c JOIN cart_ref ca ON c.cid = ca.cid "
        "JOIN cartdetails_ref cd ON ca.cartid = cd.cartid "
        "JOIN bill_ref b ON cd.iid = b.iid WHERE b.amount < 1000 AND b.amount > 500",
    )


def test_query9_distinct(engine, duck):
    run(
        engine,
        duck,
        "SELECT DISTINCT customer_ref.gender FROM customer_ref",
        "SELECT DISTINCT gender FROM customer_ref",
    )


def test_query10_orderby(engine, duck):
    # value-hash is order-insensitive; additionally check the sort itself
    df = engine.sql(
        "SELECT * FROM customer_ref,cart_ref WHERE customer_ref.cid=cart_ref.cid "
        "ORDERBY cart_ref.cartid"
    )
    vals = [r["cartid"] for r in df.collect()]
    assert vals == sorted(vals)


def test_orderby_desc(engine, duck):
    df = engine.sql(
        "SELECT customer_ref.cid FROM customer_ref ORDERBY customer_ref.cid DESC"
    )
    vals = [r["cid"] for r in df.collect()]
    assert vals == sorted(vals, reverse=True)


# --- §2.3 quirks ------------------------------------------------------


def test_query3_witness_max(engine, duck):
    """Bare columns + MAX: rows where cartid equals the global max
    (witness semantics, Aggregate.java:123-150). DuckDB oracle uses an
    explicit witness-join formulation."""
    run(
        engine,
        duck,
        "SELECT cart_ref.cid, MAX(cart_ref.cartid), cart_ref.status FROM cart_ref",
        "SELECT DISTINCT cid, (SELECT max(cartid) FROM cart_ref) AS \"MAX(cart_ref.cartid)\", status "
        "FROM cart_ref WHERE cartid = (SELECT max(cartid) FROM cart_ref)",
    )


def test_witness_min_beats_max(engine, duck):
    run(
        engine,
        duck,
        "SELECT cart_ref.cid, MIN(cart_ref.cartid), MAX(cart_ref.cartid) FROM cart_ref",
        'SELECT DISTINCT cid, (SELECT min(cartid) FROM cart_ref) AS "MIN(cart_ref.cartid)", '
        '(SELECT max(cartid) FROM cart_ref) AS "MAX(cart_ref.cartid)" '
        "FROM cart_ref WHERE cartid = (SELECT min(cartid) FROM cart_ref)",
    )


def test_pure_aggregates_no_bare(engine, duck):
    run(
        engine,
        duck,
        "SELECT COUNT(bill_ref.billid), SUM(bill_ref.amount), AVG(bill_ref.amount), "
        "MIN(bill_ref.amount), MAX(bill_ref.amount) FROM bill_ref",
        'SELECT count(*) AS "COUNT(bill_ref.billid)", sum(amount) AS "SUM(bill_ref.amount)", '
        'avg(amount) AS "AVG(bill_ref.amount)", min(amount) AS "MIN(bill_ref.amount)", '
        'max(amount) AS "MAX(bill_ref.amount)" FROM bill_ref',
    )


def test_string_literal_cast_to_int(engine, duck):
    """Quirk #4: amount<"1000" compares numerically, not lexicographically
    (so 999 < 1000 even though "999" > "1000")."""
    run(
        engine,
        duck,
        'SELECT bill_ref.billid FROM bill_ref WHERE bill_ref.amount<"1000"',
        "SELECT billid FROM bill_ref WHERE amount < 1000",
    )


@pytest.mark.parametrize(
    "literal", ["m", "a' OR '1'='1", "m\\", ":p0", "m--"]
)
def test_string_comparison_stays_lexicographic(engine, duck, literal):
    """Each literal is bound as one plain string, never spliced into
    the SQL text: quotes, backslashes, parameter-marker lookalikes and
    comment starts compare like any other string."""
    quoted = literal.replace("'", "''")
    run(
        engine,
        duck,
        "SELECT customer_ref.cid FROM customer_ref "
        f'WHERE customer_ref.firstname<"{literal}"',
        f"SELECT cid FROM customer_ref WHERE firstname < '{quoted}'",
    )


@pytest.mark.parametrize(
    "text, columns, dtypes",
    [
        (
            # written right-hand first: the join puts cart_ref first
            "SELECT * FROM customer_ref,cart_ref WHERE cart_ref.cid=customer_ref.cid",
            ["cartid", "cid", "status", "remarks",
             "cid", "gender", "firstname", "lastname", "address"],
            ["int", "int", "string", "string",
             "int", "int", "string", "string", "string"],
        ),
        (
            # components merge out of FROM order: cartdetails_ref
            # absorbs bill_ref, then cart_ref absorbs both
            "SELECT * FROM cart_ref,bill_ref,cartdetails_ref "
            "WHERE cartdetails_ref.iid=bill_ref.iid,"
            "cart_ref.cartid=cartdetails_ref.cartid",
            ["cartid", "cid", "status", "remarks",
             "iid", "cartid", "qty", "remarks",
             "billid", "iid", "amount", "remarks"],
            ["int", "int", "string", "string",
             "int", "int", "int", "string",
             "int", "int", "int", "string"],
        ),
    ],
    ids=["right_hand_first", "merged_out_of_from_order"],
)
def test_select_star_column_order_and_header(
    spark, engine, ref_tables, text, columns, dtypes
):
    """``SELECT *`` keeps the join-merge column order, and the golden
    header names the same columns in the same order."""
    df = engine.sql(text)
    assert df.columns == columns
    assert [t for _name, t in df.dtypes] == dtypes
    golden = KajEngineGolden(spark)
    for name, (tdf, _rows, _cols) in ref_tables.items():
        golden.register(name, tdf)
    tokens = golden.header_tokens(text)
    assert [tok.split(".", 1)[1] for tok in tokens] == df.columns


def test_theta_join_executes_operator(engine, duck):
    """Default mode: `<` joins execute as `<` (reference would coerce
    to equality — covered by strict mode below)."""
    run(
        engine,
        duck,
        "SELECT customer_ref.cid, cart_ref.cartid FROM customer_ref,cart_ref "
        'WHERE customer_ref.cid<cart_ref.cid,cart_ref.cartid<"5"',
        "SELECT c.cid, ca.cartid FROM customer_ref c JOIN cart_ref ca "
        "ON c.cid < ca.cid WHERE ca.cartid < 5",
    )


def test_strict_compat_coerces_join_to_equality(spark, ref_tables, duck):
    eng = KajEngine(spark, strict_compat=True)
    for name, (df, _r, _c) in ref_tables.items():
        eng.register(name, df)
    assert_same_result(
        eng.sql(
            "SELECT customer_ref.cid, cart_ref.cartid FROM customer_ref,cart_ref "
            "WHERE customer_ref.cid<cart_ref.cid"
        ),
        duck,
        "SELECT c.cid, ca.cartid FROM customer_ref c JOIN cart_ref ca ON c.cid = ca.cid",
    )


def test_strict_compat_rejects_groupby(spark, ref_tables):
    from kaj_query_engine_spark.dialect.lowering import LoweringError

    eng = KajEngine(spark, strict_compat=True)
    for name, (df, _r, _c) in ref_tables.items():
        eng.register(name, df)
    with pytest.raises(LoweringError, match="GroupBy is not implemented"):
        eng.sql("SELECT cart_ref.cid, COUNT(cart_ref.cartid) FROM cart_ref GROUPBY cart_ref.cid")


def test_groupby_supported_in_default_mode(engine, duck):
    run(
        engine,
        duck,
        "SELECT cart_ref.cid, COUNT(cart_ref.cartid) FROM cart_ref GROUPBY cart_ref.cid",
        'SELECT cid, count(*) AS "COUNT(cart_ref.cartid)" FROM cart_ref GROUP BY cid',
    )


def test_sum_on_string_rejected(engine):
    from kaj_query_engine_spark.dialect.lowering import LoweringError

    with pytest.raises(LoweringError, match="INVALID"):
        engine.sql("SELECT SUM(customer_ref.firstname) FROM customer_ref")


def test_distinct_after_projection(engine, duck):
    run(
        engine,
        duck,
        "SELECT DISTINCT cart_ref.status FROM cart_ref,customer_ref "
        "WHERE cart_ref.cid=customer_ref.cid",
        "SELECT DISTINCT status FROM cart_ref ca JOIN customer_ref c ON ca.cid = c.cid",
    )


def test_cross_join_unconnected_tables(engine, duck):
    run(
        engine,
        duck,
        'SELECT customer_ref.cid, cart_ref.cartid FROM customer_ref,cart_ref '
        'WHERE customer_ref.cid<"3",cart_ref.cartid<"3"',
        "SELECT c.cid, ca.cartid FROM customer_ref c CROSS JOIN cart_ref ca "
        "WHERE c.cid < 3 AND ca.cartid < 3",
    )


def test_pprint(engine):
    s = engine.explain_plan(
        "SELECT customer_ref.cid FROM customer_ref,cart_ref "
        'WHERE customer_ref.cid=cart_ref.cid,cart_ref.cartid<"5" ORDERBY customer_ref.cid'
    )
    assert s.startswith("OrderBy(Project(Join(")
    assert "Select(Scan(cart_ref)" in s


def test_same_table_attr_comparison_executes_in_default_mode(engine, duck):
    run(
        engine,
        duck,
        "SELECT customer_ref.cid, customer_ref.gender FROM customer_ref "
        "WHERE customer_ref.cid=customer_ref.gender",
        "SELECT cid, gender FROM customer_ref WHERE cid = gender",
    )


def test_strict_compat_drops_same_table_attr_comparison(spark, ref_tables, duck):
    """Reference quirk §2.3.8 (found by the golden fuzzer): same-table
    attr-op-attr selections are silently dropped — the condition never
    becomes a Select operator — so in strict mode the query behaves as
    if the condition were absent; and when such conditions are a
    join-less query's ONLY WHERE clause (the shape that NPEs the real
    engine) strict mode raises loudly instead."""
    from kaj_query_engine_spark.dialect.lowering import LoweringError

    eng = KajEngine(spark, strict_compat=True)
    for name, (df, _r, _c) in ref_tables.items():
        eng.register(name, df)
    assert_same_result(
        eng.sql(
            "SELECT customer_ref.cid, customer_ref.gender FROM customer_ref "
            'WHERE customer_ref.cid=customer_ref.gender,customer_ref.cid<"50"'
        ),
        duck,
        # the attr=attr conjunct is DROPPED by the reference
        "SELECT cid, gender FROM customer_ref WHERE cid < 50",
    )
    with pytest.raises(LoweringError, match="null Select root"):
        eng.sql(
            "SELECT customer_ref.cid FROM customer_ref "
            "WHERE customer_ref.cid=customer_ref.gender"
        )


def test_strict_compat_skips_unresolvable_orderby_keys(spark, ref_tables, duck):
    """Reference parity: ORDERBY keys outside the output schema are
    silently dropped from the sort (QueryMain.java:209-216) — content
    is unchanged and surviving keys still sort; default mode raises."""
    from kaj_query_engine_spark.dialect.lowering import LoweringError

    eng = KajEngine(spark, strict_compat=True)
    for name, (df, _r, _c) in ref_tables.items():
        eng.register(name, df)
    out = eng.sql(
        "SELECT customer_ref.cid, customer_ref.gender FROM customer_ref "
        "ORDERBY customer_ref.gender,customer_ref.lastname"
    ).collect()
    genders = [r.gender for r in out]
    assert genders == sorted(genders)  # surviving key still sorts
    assert len(out) == 150  # fixture row count — content unchanged

    default_eng = KajEngine(spark)
    for name, (df, _r, _c) in ref_tables.items():
        default_eng.register(name, df)
    with pytest.raises(LoweringError, match="ORDERBY key not in output"):
        default_eng.sql(
            "SELECT customer_ref.cid FROM customer_ref "
            "ORDERBY customer_ref.lastname"
        )


@pytest.fixture
def fresh_engine(spark, ref_tables):
    eng = KajEngine(spark)
    for name, (df, _rows, _cols) in ref_tables.items():
        eng.register(name, df)
    return eng


JOIN_TEXT = "SELECT * FROM customer_ref,cart_ref WHERE customer_ref.cid=cart_ref.cid"


def test_repeated_text_reuses_prepared_dataframe(spark, fresh_engine):
    """A repeated text returns the same DataFrame, whose executed plan
    already holds the broadcast build: collecting it again runs only
    the final job."""
    assert fresh_engine.sql(JOIN_TEXT) is fresh_engine.sql(JOIN_TEXT)
    first, first_jobs = count_jobs(spark, fresh_engine.sql(JOIN_TEXT).collect)
    again, again_jobs = count_jobs(spark, fresh_engine.sql(JOIN_TEXT).collect)
    assert sorted(again) == sorted(first)
    assert again_jobs == 1
    assert first_jobs >= 2


def test_repeated_text_sees_reregistered_table(spark, fresh_engine):
    """Each engine's tables live in views of their own: two engines
    sharing a session and a table name never see each other's rows,
    and a re-registered table drops the view it replaces."""

    def one_row(cid):
        return spark.createDataFrame(
            [(cid, 0, "a", "b", "c")],
            "cid int, gender int, firstname string, lastname string, address string",
        )

    def rows(eng):
        return [tuple(r) for r in eng.sql(text).collect()]

    text = "SELECT customer_ref.cid FROM customer_ref"
    other = KajEngine(spark)
    other.register("customer_ref", one_row(8))
    assert len(rows(fresh_engine)) == 150
    assert rows(other) == [(8,)]
    assert len(rows(fresh_engine)) == 150
    replaced = fresh_engine.catalog.view("customer_ref")
    fresh_engine.register("customer_ref", one_row(7))
    assert rows(fresh_engine) == [(7,)]
    assert rows(other) == [(8,)]
    assert replaced not in {t.name for t in spark.catalog.listTables()}


def test_load_fixtures_drops_prepared_queries(fresh_engine):
    df = fresh_engine.sql(JOIN_TEXT)
    fresh_engine.load_fixtures(SF_DIR)
    assert fresh_engine.sql(JOIN_TEXT) is not df


def test_prepared_queries_evict_least_recently_used(fresh_engine):
    texts = [
        f'SELECT customer_ref.cid FROM customer_ref WHERE customer_ref.cid>"{i}"'
        for i in range(_PLAN_CACHE_SIZE + 1)
    ]
    first = {t: fresh_engine.sql(t) for t in texts[:-1]}
    fresh_engine.sql(texts[0])  # now the most recently used
    fresh_engine.sql(texts[-1])  # one past the cap: evicts texts[1]
    assert fresh_engine.sql(texts[0]) is first[texts[0]]
    assert fresh_engine.sql(texts[1]) is not first[texts[1]]
