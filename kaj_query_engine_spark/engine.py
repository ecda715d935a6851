"""Engine facade: the analog of the reference's ``QueryMain`` driver
(``/root/reference/src/QueryMain.java:26-41``) minus everything Spark
already does (buffer management, optimization, execution).
"""

from __future__ import annotations

import os
import time
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

from kaj_query_engine_spark.catalog import Catalog, load_fixture_catalog
from kaj_query_engine_spark.dialect.lowering import lower
from kaj_query_engine_spark.dialect.parser import parse
from kaj_query_engine_spark.plans.pprint import pprint_query

# Query texts whose prepared DataFrame ``KajEngine.sql`` keeps. Small:
# each entry pins its shuffle files and broadcast relations until evicted.
_PLAN_CACHE_SIZE = 16


class KajEngine:
    """Parse + lower the reference dialect over a table catalog.

    >>> eng = KajEngine(spark)
    >>> eng.register("customer", df)
    >>> eng.sql('SELECT customer.c_custkey FROM customer '
    ...         'WHERE customer.c_mktsegment = "BUILDING"')
    """

    def __init__(self, spark: SparkSession, strict_compat: bool = False):
        self.spark = spark
        self.catalog = Catalog(spark)
        self.strict_compat = strict_compat
        self._stats_cache: dict[str, object] = {}
        self._plans: OrderedDict[str, DataFrame] = OrderedDict()

    def register(self, name: str, df: DataFrame) -> None:
        self.catalog.register(name, df)
        self._plans.clear()
        self._stats_cache.clear()

    def load_fixtures(self, sf_dir: str) -> None:
        fixture_cat = load_fixture_catalog(self.spark, sf_dir)
        for name in fixture_cat.names():
            self.register(name, fixture_cat.table(name))

    def sql(self, query_text: str) -> DataFrame:
        """Dialect SQL → DataFrame (lazy; caller acts on it).

        The same text returns the same DataFrame until the next
        ``register``/``load_fixtures`` (least recently used texts are
        dropped beyond ``_PLAN_CACHE_SIZE``), so collecting a repeat
        reuses its plan, broadcasts and shuffle stages. An entry is
        planned under the SQL conf in force at its first call. A
        registered table is treated as immutable: re-register it to
        pick up new data.
        """
        df = self._plans.pop(query_text, None)
        if df is None:
            df = lower(parse(query_text), self.catalog, self.strict_compat)
        self._plans[query_text] = df
        if len(self._plans) > _PLAN_CACHE_SIZE:
            self._plans.popitem(last=False)
        return df

    def explain_plan(self, query_text: str) -> str:
        """Logical-plan pretty-print in the spirit of the reference's
        ``Debug.PPrint`` (``src/qp/operators/Debug.java:79-121``)."""
        return pprint_query(parse(query_text))

    def explain_cost(self, query_text: str, join_type: str = "broadcast") -> str:
        """Declared plan + estimated cost, mirroring the reference's
        ``printFinalPlan`` + ``PlanCost`` (``src/QueryMain.java:142-180``,
        ``src/qp/optimizer/PlanCost.java``). Table stats come from a
        one-pass ``approx_count_distinct`` scan, cached per table (the
        ``.stat``-file analog)."""
        from kaj_query_engine_spark.plans.cost import collect_stats, explain_cost

        q = parse(query_text)
        for t in q.from_list:
            tl = t.lower()
            if tl not in self._stats_cache:
                self._stats_cache[tl] = collect_stats(self.catalog.table(tl))
        return explain_cost(q, self._stats_cache, join_type)

    def execute_to_file(
        self, query_text: str, out_path: str, small_result: bool = False
    ) -> float:
        """Run a query and write a tab-separated result (header line,
        ``-NULL-`` for nulls) like the reference's sink
        (``src/QueryMain.java:186-306``). Returns wall seconds.

        Default path is the DISTRIBUTED writer: executors write part
        files under ``out_path`` (a directory, one header per part)
        and the result never lands on the driver — the only shape that
        survives a 100 TB result. ``small_result=True`` is the literal
        QueryMain analog: collect to the driver and write ONE local
        file at ``out_path``. Use it only when the result is
        known-tiny (an aggregate row, a top-k). Both paths emit the
        same cell dialect — bare ``str(value)`` with ``-NULL-`` for
        nulls, no CSV quoting (``raw=True`` on the distributed side).
        """
        from kaj_query_engine_spark.sources.sink import write_result_tsv

        start = time.time()
        df = self.sql(query_text)
        if small_result:
            rows = df.collect()
            os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
            with open(out_path, "w") as fh:
                fh.write("\t".join(df.columns) + "\n")
                for row in rows:
                    fh.write("\t".join(_fmt(v) for v in row) + "\n")
        else:
            write_result_tsv(df, out_path, null_value="-NULL-", raw=True)
        return time.time() - start


def _fmt(value: object) -> str:
    if value is None:
        return "-NULL-"  # mirrors QueryMain.java:299-300
    return str(value)


class KajEngineGolden(KajEngine):
    """Strict-compat engine with a byte-level reference sink: the
    output dialect of ``QueryMain.executeQuery``/``printSchema``/
    ``printTuple`` (``src/QueryMain.java:186-306``) exactly —
    ``tab.col`` header tokens each followed by TWO spaces (aggregates
    as ``AGG(tab.col)``), every data cell followed by a tab, nulls as
    ``-NULL-``. Used by the golden-file tests that byte-diff this
    engine against the compiled reference engine's ``query.out``.
    """

    def __init__(self, spark: SparkSession):
        super().__init__(spark, strict_compat=True)

    def header_tokens(self, query_text: str) -> list[str]:
        """The reference result header for ``query_text``: projection
        order when a project list exists; for ``SELECT *`` each table's
        columns in schema order, tables in the ``table_order`` that
        ``lower()`` lists them in (``dialect/lowering.py``). The
        reference prints ITS optimizer's join order here (randomized
        per run), so a byte-compare permutes columns by these unique
        qualified names first."""
        from kaj_query_engine_spark.dialect.ast import AggType
        from kaj_query_engine_spark.dialect.lowering import table_order

        q = parse(query_text)
        if q.project_list:
            return [
                a.display() if a.agg is not AggType.NONE else a.qualified()
                for a in q.project_list
            ]
        return [
            f"{name}.{col}"
            for name in table_order(q)
            for col in self.catalog.table(name).columns
        ]

    def execute_to_golden(self, query_text: str, out_path: str) -> list[str]:
        """Run ``query_text`` and write ONE local file in the exact
        QueryMain byte dialect (driver-collect — reference-scale
        results are tiny by construction). Returns the header tokens.
        """
        from pyspark.sql import types as T

        from kaj_query_engine_spark.sources.javafmt import (
            java_double_str,
            java_float_str,
        )

        tokens = self.header_tokens(query_text)
        df = self.sql(query_text)
        # REAL cells print through Java Float.toString in the reference
        # (QueryMain.java:296-297) — "1.0E-4", not Python's "0.0001"
        cell_fmt = []
        for f in df.schema.fields:
            if isinstance(f.dataType, T.FloatType):
                cell_fmt.append(lambda v: _fmt(v) if v is None else java_float_str(v))
            elif isinstance(f.dataType, T.DoubleType):
                cell_fmt.append(lambda v: _fmt(v) if v is None else java_double_str(v))
            else:
                cell_fmt.append(_fmt)
        rows = df.collect()
        os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
        with open(out_path, "w") as fh:
            fh.write("".join(t + "  " for t in tokens) + "\n")
            for row in rows:
                fh.write(
                    "".join(fmt(v) + "\t" for fmt, v in zip(cell_fmt, row)) + "\n"
                )
        return tokens
