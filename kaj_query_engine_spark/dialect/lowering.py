"""Lower the dialect IR to one parameterized Spark SQL statement.

The reference builds a logical Operator tree (Scan → Select* → Join* →
Project, ``/root/reference/src/qp/optimizer/RandomInitialPlan.java:49-65``)
and optimizes join order itself; here the IR becomes ONE SQL text over
the catalog's temp views (``Catalog.view``), analyzed once by
``spark.sql``, and Catalyst/AQE choose join order and algorithms
(broadcast / shuffled-hash / sort-merge replace the reference's
NestedJoin / BlockNestedJoin / SortMergeJoin).

No literal is ever spliced into the text: each one becomes a named
parameter marker ``:pN`` bound through ``spark.sql``'s ``args``.
Identifiers are the parser's ``[A-Za-z_][A-Za-z_0-9]*`` tokens, always
backtick-quoted; tables are aliased by their lower-cased names.

Replicated semantics (SURVEY.md §2.3):

1. literal casting — every literal is a quoted string cast to the LHS
   column's type, ``CAST(:pN AS <type>)``; string columns compare
   against the bare marker (``src/qp/operators/Select.java:191-193,
   247-249``);
2. selection-vs-join split by table name (``SQLQuery.java:51-69``):
   both land in one WHERE conjunction over a comma FROM list, and
   Catalyst pushes selections to their scans and builds the joins;
   unconnected tables cross-join. FROM lists the tables in
   :func:`table_order`, which is the ``SELECT *`` column order;
3. ungrouped aggregates with bare columns use witness-row semantics
   (``src/qp/operators/Aggregate.java:123-150``): a one-row derived
   table ``_agg`` holds the aggregates. With a MIN or MAX aggregate it
   is joined back onto its input on the first MIN column, else the
   first MAX column (MIN beats MAX), and the witness rows are
   ``SELECT DISTINCT``ed, so ties emit every tying distinct row. With
   only COUNT/SUM/AVG the bare columns are ``min_by`` the bare-column
   tuple in the same aggregate, and ``_n_in > 0`` drops the row a
   global aggregate emits over empty input;
4. DISTINCT and ORDER BY run last, on the projected result; ORDER BY
   keys are resolved by qualified name against the output (projected
   queries sort by output ordinal, ``SELECT *`` by the qualified
   column), DESC applies to the whole key list
   (``src/QueryMain.java:205-261``);
5. join comparators: ``strict_compat=True`` coerces every join
   comparator to equality like the reference executor
   (``src/qp/utils/Tuple.java:50-61``); default executes the parsed
   theta-join correctly.
6. same-table attr-op-attr selections: the reference parses them,
   reclassifies them as selections without fixing the JOIN optype, and
   then silently drops them (crashing when they are a join-less
   query's only conditions) — ``strict_compat=True`` replicates the
   drop (raising loudly for the crash case); default executes the
   comparison correctly (see the inline note in :func:`lower`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, StringType

from kaj_query_engine_spark.catalog import Catalog
from kaj_query_engine_spark.dialect.ast import AggType, Attribute, SQLQuery


class LoweringError(ValueError):
    pass


def table_order(query: SQLQuery) -> list[str]:
    """FROM tables (as written) in ``SELECT *`` column order: tables
    merge into components along the join conditions, a join appending
    its right-hand component to its left-hand one; components keep the
    FROM position of their first table."""
    chains: dict[str, list[str]] = {}
    for name in query.from_list:
        if name.lower() in chains:
            raise LoweringError(f"duplicate table in FROM: {name}")
        chains[name.lower()] = [name]
    root = {key: key for key in chains}
    for cond in query.joins:
        lkey, rkey = cond.lhs.table.lower(), cond.rhs.table.lower()
        if lkey not in root or rkey not in root:
            raise LoweringError(f"unknown table in join: {cond}")
        lc, rc = root[lkey], root[rkey]
        if lc != rc:
            chains[lc] += chains.pop(rc)
            for key, r in root.items():
                if r == rc:
                    root[key] = lc
    return [name for chain in chains.values() for name in chain]


def _col(attr: Attribute) -> str:
    return f"`{attr.table.lower()}`.`{attr.column}`"


def _where(conds: list[str]) -> str:
    return " WHERE " + " AND ".join(conds) if conds else ""


def _column_type(catalog: Catalog, attr: Attribute) -> DataType | None:
    if catalog.has(attr.table):
        for f in catalog.table(attr.table).schema.fields:
            if f.name == attr.column:
                return f.dataType
    return None


def lower(
    query: SQLQuery,
    catalog: Catalog,
    strict_compat: bool = False,
) -> DataFrame:
    """SQLQuery IR → DataFrame. ``strict_compat`` replicates the two
    reference warts: equality-coerced join comparators and the
    'GroupBy is not implemented' error
    (``src/qp/optimizer/RandomInitialPlan.java:51-54``)."""
    if strict_compat and query.groupby_list:
        raise LoweringError("GroupBy is not implemented.")  # reference parity

    args: dict[str, str] = {}

    def literal(lhs: Attribute, text: str) -> str:
        # quirk #1: the literal takes the LHS column's type
        dtype = _column_type(catalog, lhs)
        if dtype is None:
            raise LoweringError(f"column not found: {lhs.column}")
        marker = f":p{len(args)}"
        args[marker[1:]] = text
        if isinstance(dtype, StringType):
            return marker
        return f"CAST({marker} AS {dtype.simpleString()})"

    def aggregate(attr: Attribute) -> str:
        # Attribute.java:114-128 / Project.java:100-104: COUNT counts
        # all rows, SUM/AVG on STRING is rejected
        if attr.agg is AggType.COUNT:
            return "COUNT(1)"
        if attr.agg in (AggType.SUM, AggType.AVG) and isinstance(
            _column_type(catalog, attr), StringType
        ):
            raise LoweringError(
                f"{attr.agg.name} on STRING attribute {attr.qualified()} is INVALID"
            )
        return f"{attr.agg.name}({_col(attr)})"

    # -- FROM + WHERE (quirks #1, #2, #5, #6) ----------------------------
    order = table_order(query)
    in_from = {name.lower() for name in order}
    from_ = ", ".join(f"`{catalog.view(n)}` AS `{n.lower()}`" for n in order)
    conds: list[str] = []
    for cond in query.selections:
        if strict_compat and isinstance(cond.rhs, Attribute):
            # Reference quirk (found by the golden fuzzer): the
            # parser marks attr-op-attr conditions JOIN
            # (parser.cup:190-195), SQLQuery reclassifies
            # same-table ones as selections WITHOUT resetting the
            # optype (SQLQuery.java:59-66), and createSelectOp
            # only builds operators for optype SELECT
            # (RandomInitialPlan.java:112-123) — so the reference
            # silently DROPS these conditions, and NPEs when they
            # are the only selections of a join-less query (the
            # never-assigned Select root stays null). Strict mode
            # replicates the drop BEFORE any table validation (the
            # reference never looks the table up for a dropped
            # condition, so even a non-FROM table passes); the
            # null-root crash surfaces below as a loud error
            # instead of an NPE.
            continue
        if cond.lhs.table.lower() not in in_from:
            raise LoweringError(f"unknown table in condition: {cond.lhs.table}")
        if isinstance(cond.rhs, Attribute):
            rhs = _col(cond.rhs)  # same-table attr comparison
        else:
            rhs = literal(cond.lhs, cond.rhs)
        conds.append(f"{_col(cond.lhs)} {cond.op.value} {rhs}")
    if strict_compat and query.selections and not conds and not query.joins:
        raise LoweringError(
            "reference parity: a join-less query whose only WHERE "
            "conditions are same-table attribute comparisons crashes "
            "the reference (null Select root, RandomInitialPlan.java:"
            "126-129) — the conditions are dropped, never executed"
        )
    for cond in query.joins:
        op = "=" if strict_compat else cond.op.value  # quirk #5
        conds.append(f"{_col(cond.lhs)} {op} {_col(cond.rhs)}")

    # -- select list: output expression by project position -------------
    project = query.project_list
    cols = [_col(a) for a in project]
    aggs = [i for i, a in enumerate(project) if a.agg is not AggType.NONE]
    distinct = query.is_distinct
    group_by = ""
    if query.groupby_list:
        # parseable in the reference but unimplemented there
        if not aggs:
            raise LoweringError("GROUPBY requires aggregates in the select list")
        for i in aggs:
            cols[i] = aggregate(project[i])
        group_by = " GROUP BY " + ", ".join(_col(a) for a in query.groupby_list)
    elif aggs:
        # quirk #3: _agg._a<i> is project position i's aggregate
        bare = [i for i in range(len(project)) if i not in aggs]
        ranked = [  # MIN beats MAX
            i for t in (AggType.MIN, AggType.MAX) for i in aggs if project[i].agg is t
        ]
        witness = ranked[0] if bare and ranked else None
        inner = [f"{aggregate(project[i])} AS _a{i}" for i in aggs]
        if bare and witness is None:
            # COUNT/SUM/AVG only → the reference takes bare columns
            # from the "first" input row (Aggregate.java:146-149). File
            # order does not exist in a distributed engine, so the
            # witness is the row with the smallest bare-column tuple:
            # deterministic across runs and partitionings (rows tying
            # on the key have identical bare tuples), and equal to the
            # reference whenever its answer is itself well-defined.
            key = "struct(" + ", ".join(cols[i] for i in bare) + ")"
            inner += [f"min_by({cols[i]}, {key}) AS _a{i}" for i in bare]
        agg_table = (
            f"(SELECT {', '.join(inner)}, COUNT(1) AS _n_in "
            f"FROM {from_}{_where(conds)}) AS _agg"
        )
        if witness is None:
            cols = [f"_agg._a{i}" for i in range(len(project))]
            from_, conds = agg_table, ["_agg._n_in > 0"]
        else:
            distinct = True
            conds.append(f"{cols[witness]} = _agg._a{witness}")
            for i in aggs:
                cols[i] = f"_agg._a{i}"
            from_ += ", " + agg_table
    # SELECT * → no Project node (RandomInitialPlan.java:180-184)
    select = ", ".join(f"{c} AS `{a.display()}`" for c, a in zip(cols, project))

    # -- ORDER BY, after DISTINCT (quirk #4) ------------------------------
    sort = []
    for a in query.orderby_list:
        if project:
            pos = next(
                (
                    str(i + 1)
                    for i, p in enumerate(project)
                    if (p.agg, p.table.lower(), p.column)
                    == (a.agg, a.table.lower(), a.column)
                ),
                None,
            )
        elif (
            a.agg is AggType.NONE
            and a.table.lower() in in_from
            and a.column in catalog.table(a.table).columns
        ):
            pos = _col(a)
        else:
            pos = None
        if pos is None:
            if strict_compat:
                # reference parity: QueryMain resolves ORDERBY keys by
                # QUALIFIED string match against the OUTPUT schema and
                # simply doesn't add unmatched ones to the sort index
                # list (QueryMain.java:209-216) — a key outside the
                # projection is silently skipped (verified against the
                # compiled engine: rc 0, sorted by the surviving keys
                # only). Default mode raises — silently ignoring a
                # requested sort key is a bug, not a feature.
                continue
            raise LoweringError(f"ORDERBY key not in output schema: {a.qualified()}")
        sort.append(pos + (" DESC" if query.is_desc else ""))

    text = (
        f"SELECT {'DISTINCT ' if distinct else ''}{select or '*'} "
        f"FROM {from_}{_where(conds)}{group_by}"
        + (" ORDER BY " + ", ".join(sort) if sort else "")
    )
    return catalog.spark.sql(text, args)
